package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
    // optional 3rd arg: comma-separated query names, for fast single-query
    // iteration against scripts/check_oracle.py (driver passes 2 args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = SparkSessionFactory.create(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Hash forensics: one canonical row-hash per query, computed from
    // the dumped parquet ARTIFACT (not the live plan), so a driver-side
    // `hash_match: false` has a local number to diff against — same
    // code, same data, different hash ⇒ the divergence is in the
    // driver environment / a mid-round snapshot, not HEAD. Canonical =
    // columns sorted by name, every value cast to string (NULL gets a
    // sentinel), rows folded order-independently (exact DECIMAL sum of
    // per-row xxhash64, mod 2⁶⁴) — no sort, no collect, one extra
    // small scan per query.
    val rowHashes = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
    def canonicalHash(path: String): (Long, String) = {
      import org.apache.spark.sql.functions._
      val df = spark.read.parquet(path)
      val cols = df.columns.sorted.toIndexedSeq.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000NULL")))
      val agg = df.select(xxhash64(concat_ws("\u0001", cols: _*)).as("h"))
        .agg(count(lit(1)).as("n"),
          sum(col("h").cast(
            org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
        .head()
      val n = agg.getLong(0)
      val s = Option(agg.getDecimal(1))
        .map(_.toBigInteger.mod(java.math.BigInteger.ONE.shiftLeft(64)))
        .getOrElse(java.math.BigInteger.ZERO)
      (n, f"${s.longValue()}%016x")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // hash failure ≠ query failure: the parquet artifact above was
          // written fine, so a transient read error here must not report
          // the query as failed — the forensics row becomes a visible
          // ERROR sentinel (never silently absent, which would be
          // indistinguishable from "query never ran"). NonFatal only:
          // an OOM/interrupt must crash the run, not mask itself.
          try rowHashes(name) = canonicalHash(s"$outDir/$name")
          catch { case scala.util.control.NonFatal(e) =>
            rowHashes(name) = (-1L, "ERROR")
            System.err.println(s"[verify] $name hash failed " +
              s"(artifact written OK): ${e.getMessage}")
          }
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // per-query operator caches must not stack across ~200 queries
        graft.operators.OpCaches.release()
      }
    Files.writeString(Paths.get(s"$outDir/row_hashes.json"),
      rowHashes.map { case (k, (n, h)) =>
        s""""$k": {"rows": $n, "hash": "$h"}"""
      }.mkString("{\n", ",\n", "\n}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the BPE and unigram training memos are session-scoped (the
    // q_bpe_* family rides one trained tokenizer); release them at end
    // of run
    graft.operators.OpCaches.resetQueryState()
    spark.stop()
  }
}
