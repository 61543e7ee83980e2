package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Driver-gate shape rule: every ORACLE-CHECKED query must produce
  * scalar-only top-level columns. The gate materializes both sides into
  * pandas and sorts rows before hashing; an array/map/struct cell makes
  * that sort throw (`TypeError: unhashable type: numpy.ndarray`) and the
  * query goes red regardless of semantics (round-6 verdict, items 1–2).
  * Operators keep their typed array APIs — the registered query is where
  * arrays are serialized to canonical strings (comma-joined / to_json).
  *
  * `.schema` only runs analysis, so this covers all ~160 queries cheaply;
  * the few operators that train model state at plan-build time (k-means,
  * PQ codebooks) do so on the sf0.001 tables. */
class OracleShapeSpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.001"

  test("oracle-checked query outputs contain no array/map/struct columns") {
    val oracleChecked = SparkEntry.queries.keys.toSeq.sorted
      .filter(SparkEntry.oracleSql.contains)
    val offenders = oracleChecked.flatMap { name =>
      val schema = SparkEntry.queries(name)(spark, d).schema
      val bad = schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
      bad
    }
    assert(offenders.isEmpty,
      s"non-scalar columns in oracle-checked outputs (driver gate would " +
      s"crash sorting these):\n  ${offenders.mkString("\n  ")}")
  }

  test("every registered query has an oracle and every oracle has a query") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((qs -- os).isEmpty,
      s"queries with no oracle (driver records only a weak rows-only " +
      s"check): ${(qs -- os).toSeq.sorted.mkString(", ")}")
    assert((os -- qs).isEmpty,
      s"orphaned oracle entries (dead SQL the driver would skip): " +
      s"${(os -- qs).toSeq.sorted.mkString(", ")}")
  }

  test("query records: names unique, one query and one oracle per name") {
    // the registries are maps keyed by name, so a repeated name would
    // leave one of the two records dead with no runtime symptom (found
    // live once: two q_histogram registrations)
    val repeated = SparkEntry.records.groupBy(_.name)
      .collect { case (n, rs) if rs.size > 1 => n }
    assert(repeated.isEmpty,
      s"query names registered more than once: ${repeated.toSeq.sorted}")
    assert(SparkEntry.queries.size === SparkEntry.records.size)
    assert(SparkEntry.oracleSql.size === SparkEntry.records.size)
  }

  test("the registry refuses two records with the same name") {
    val build: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (s, _) => s.range(1).toDF()
    val a = Query("q_twice", "relational", build, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Query.byName(Seq(a, a.copy(oracle = "SELECT 2"))))
    assert(e.getMessage.contains("q_twice"))
  }
}
