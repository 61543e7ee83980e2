package graft

import org.apache.hadoop.fs.Path

import graft.sources.ManifestTable

/** The atomic-publish protocol behind StreamOps.upsertStream: snapshot
  * isolation (old-or-new-never-nothing), replayed-batch idempotence, and
  * partition-scoped rewrites (untouched buckets carried by reference). */
class ManifestTableSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString + "/t"

  private def rows(xs: (Long, String, Long)*) = xs.toDF("k", "v", "ver")

  private def state(table: String): Set[(Long, String, Long)] =
    ManifestTable.read(spark, table)
      .select("k", "v", "ver").as[(Long, String, Long)].collect().toSet

  test("reader sees old or new, never nothing: crash at any commit step") {
    val table = tmpTable()
    assert(ManifestTable.upsertBatch(rows((1L, "a", 1L), (2L, "b", 1L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 0L))
    val v1 = state(table)
    assert(v1 === Set((1L, "a", 1L), (2L, "b", 1L)))
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // simulate a writer that died AFTER writing a full new commit's data
    // files but BEFORE the manifest rename: unreferenced data + a dot-temp
    // manifest must be invisible to readers
    rows((9L, "junk", 9L))
      .write.parquet(s"$table/data/c2/${ManifestTable.BucketCol}=0")
    val tmp = fs.create(new Path(s"$table/_manifests/.tmp-v2"), true)
    tmp.write("batchId=1\n0\tgarbage-path".getBytes("UTF-8")); tmp.close()
    assert(state(table) === v1,
      "half-committed attempt is invisible — reader still sees v1")
    // the recovering writer retries the same version: the leftover data
    // dir is cleared, the commit succeeds, readers move to v2 atomically
    assert(ManifestTable.upsertBatch(rows((2L, "b2", 2L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 1L))
    assert(state(table) === Set((1L, "a", 1L), (2L, "b2", 2L)))
    // at every committed point the table read a complete snapshot; the
    // old snapshot is still intact for in-flight readers of v1
    val Some((v, _)) = ManifestTable.currentVersionAndBatch(spark, table)
    assert(v === 2L)
  }

  test("replayed batch (same batchId) is a no-op — commit is idempotent") {
    val table = tmpTable()
    assert(ManifestTable.upsertBatch(rows((1L, "a", 1L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 0L))
    assert(ManifestTable.upsertBatch(rows((2L, "b", 1L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 1L))
    val before = state(table)
    val beforeVersion = ManifestTable.currentVersionAndBatch(spark, table)
    // a restart replays batch 1 — possibly with the same content; the
    // recorded batchId makes the re-commit a no-op
    assert(!ManifestTable.upsertBatch(rows((2L, "b", 1L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 1L),
      "replay must be skipped")
    assert(state(table) === before)
    assert(ManifestTable.currentVersionAndBatch(spark, table)
      === beforeVersion, "no new version published for a replay")
  }

  test("upsert rewrites only affected buckets; others carry by reference") {
    val table = tmpTable()
    // many keys spread over 16 buckets
    val base = (0L until 200L).map(k => (k, s"v$k", 1L))
    assert(ManifestTable.upsertBatch(rows(base: _*),
      table, Seq("k"), Some("ver"), nBuckets = 16, batchId = 0L))
    val files1 = ManifestTable.currentFiles(spark, table).toMap
    assert(files1.keySet.size > 4, "base load populates many buckets")
    // single-key batch → exactly one affected bucket
    assert(ManifestTable.upsertBatch(rows((7L, "updated", 2L)),
      table, Seq("k"), Some("ver"), nBuckets = 16, batchId = 1L))
    val files2 = ManifestTable.currentFiles(spark, table).toMap
    val changed = files2.filter { case (b, p) => files1.get(b) != Some(p) }
    assert(changed.size === 1,
      s"exactly one bucket rewritten, got ${changed.keySet}")
    val unchanged = files2.filter { case (b, p) => files1.get(b) == Some(p) }
    assert(unchanged.size === files1.size - 1,
      "every other bucket's file is the SAME path — carried by reference")
    // and the merge itself is correct
    val s = state(table)
    assert(s.size === 200)
    assert(s.contains((7L, "updated", 2L)))
    assert(s.contains((8L, "v8", 1L)))
  }

  test("ad-hoc batch upserts (no batchId) always apply") {
    val table = tmpTable()
    assert(ManifestTable.upsertBatch(rows((1L, "a", 1L)),
      table, Seq("k"), Some("ver"), nBuckets = 4))
    assert(ManifestTable.upsertBatch(rows((1L, "a2", 2L)),
      table, Seq("k"), Some("ver"), nBuckets = 4),
      "no replay protection without a stream batch id")
    assert(state(table) === Set((1L, "a2", 2L)))
  }

  test("a batch sequence through the table equals the in-memory merge") {
    // ground truth: fold the same batches through Dimensional.upsert on
    // plain DataFrames; the manifest table must land on the same state
    // regardless of how buckets carved up the writes
    val table = tmpTable()
    val batches = Seq(
      Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)),
      Seq((2L, "b2", 2L), (4L, "d", 1L)),
      Seq((1L, "a2", 5L), (1L, "a3", 4L), (5L, "e", 1L)), // in-batch dup
      Seq((3L, "c2", 9L)))
    var truth = spark.emptyDataFrame
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = rows(b: _*)
      truth = if (i == 0) graft.operators.Dedup.dedupKeepFirst(
          df, Seq(org.apache.spark.sql.functions.col("k")),
          Seq(org.apache.spark.sql.functions.col("ver").desc))
        else graft.operators.Dimensional.upsert(truth, df, Seq("k"),
          versionCol = Some("ver"))
      ManifestTable.upsertBatch(df, table, Seq("k"), Some("ver"),
        nBuckets = 4, batchId = i.toLong)
    }
    val expect = truth.select("k", "v", "ver")
      .as[(Long, String, Long)].collect().toSet
    assert(state(table) === expect)
  }

  test("vacuum drops snapshots beyond the retention window") {
    val table = tmpTable()
    for (i <- 0 to 3)
      ManifestTable.upsertBatch(rows((i.toLong, s"v$i", 1L)),
        table, Seq("k"), Some("ver"), nBuckets = 4, batchId = i.toLong)
    ManifestTable.vacuum(spark, table, keep = 2)
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val manifests = fs.listStatus(new Path(s"$table/_manifests"))
      .map(_.getPath.getName).filter(_.endsWith(".txt")).sorted
    assert(manifests.toSeq === Seq("v3.txt", "v4.txt"))
    // current snapshot still reads completely after the vacuum
    assert(state(table).size === 4)
  }

  test("restore: roll back a bad commit as a NEW version — linear " +
       "history, zero copy, replay ids preserved") {
    val table = tmpTable()
    ManifestTable.upsertBatch(rows((1L, "a", 1L), (2L, "b", 1L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 0L)
    val good = state(table)
    // the bad batch overwrites k=1 and adds junk
    ManifestTable.upsertBatch(rows((1L, "CORRUPT", 9L), (7L, "junk", 9L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 1L)
    assert(state(table) !== good)
    ManifestTable.restore(spark, table, version = 1L)
    // contents are the v1 snapshot again, under a NEW version id
    assert(state(table) === good)
    assert(ManifestTable.versions(spark, table) === Seq(1L, 2L, 3L))
    // the bad version stays time-travelable (history append-only)
    assert(ManifestTable.readVersion(spark, table, 2L)
      .filter(org.apache.spark.sql.functions.col("v") === "CORRUPT")
      .count() === 1L)
    // replay protection survives the rollback: the bad batch's id is
    // still recorded, so a REPLAY of batch 1 stays a no-op...
    assert(!ManifestTable.upsertBatch(rows((1L, "CORRUPT", 9L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 1L))
    // ...while a genuinely new batch id applies on top of the restore
    assert(ManifestTable.upsertBatch(rows((3L, "c", 2L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 2L))
    assert(state(table) === good + ((3L, "c", 2L)))
    // restoring past the vacuum horizon fails loudly, before publishing
    ManifestTable.vacuum(spark, table, keep = 2)
    val e = intercept[Exception](
      ManifestTable.restore(spark, table, version = 1L))
    assert(e.getMessage.contains("v1") ||
      e.getMessage.contains("vacuumed"))
    assert(state(table) === good + ((3L, "c", 2L)),
      "a failed restore must leave the table untouched")
  }

  test("readVersion time-travels to any committed snapshot") {
    val table = tmpTable()
    ManifestTable.upsertBatch(rows((1L, "a", 1L)), table, Seq("k"),
      Some("ver"), nBuckets = 4, batchId = 0L)
    ManifestTable.upsertBatch(rows((1L, "a2", 2L), (2L, "b", 2L)),
      table, Seq("k"), Some("ver"), nBuckets = 4, batchId = 1L)
    assert(ManifestTable.versions(spark, table) === Seq(1L, 2L))
    val v1 = ManifestTable.readVersion(spark, table, 1L)
      .select("k", "v", "ver").as[(Long, String, Long)].collect().toSet
    assert(v1 === Set((1L, "a", 1L)))
    assert(state(table) === Set((1L, "a2", 2L), (2L, "b", 2L)))
  }

  test("diff emits CDF rows and reads only non-shared files") {
    val table = tmpTable()
    // many buckets so the three keys land apart and most files carry over
    val base = (1L to 30L).map(i => (i, s"v$i", 1L))
    ManifestTable.upsertBatch(rows(base: _*), table, Seq("k"),
      Some("ver"), nBuckets = 16, batchId = 0L)
    // batch 2: update k=7, insert k=100; k=7's bucket rewrite also
    // carries its unchanged bucket-mates, which must NOT appear in the diff
    ManifestTable.upsertBatch(rows((7L, "updated", 2L), (100L, "new", 2L)),
      table, Seq("k"), Some("ver"), nBuckets = 16, batchId = 1L)
    val d = ManifestTable.diff(spark, table, 1L, 2L, Seq("k"))
    val changes = d.select("k", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(changes === Set(
      (7L, "v7", "update_preimage"), (7L, "updated", "update_postimage"),
      (100L, "new", "insert")))
    // O(changed data): the diff plan must touch NO file listed by both
    // manifests (carried-by-reference files cannot hold a change)
    val v1Paths = ManifestTable.fileEntriesAt(spark, table, 1L)
      .map(_.path).toSet
    val v2Paths = ManifestTable.fileEntriesAt(spark, table, 2L)
      .map(_.path).toSet
    val shared = v1Paths.intersect(v2Paths)
    assert(shared.nonEmpty, "fixture must carry files by reference")
    val readByDiff = d.inputFiles.map(new Path(_).toUri.getPath).toSet
    val sharedPaths = shared.map(p => new Path(p).toUri.getPath)
    assert(readByDiff.intersect(sharedPaths).isEmpty,
      "diff read a carried file — not O(changed data)")
  }

  test("diff of a rewrite with identical values emits nothing") {
    val table = tmpTable()
    ManifestTable.upsertBatch(rows((1L, "a", 1L), (2L, "b", 1L)),
      table, Seq("k"), None, nBuckets = 1, batchId = 0L)
    // same rows again: the bucket is rewritten (new files, new version)
    // but no row changed — the CDF must be empty
    ManifestTable.upsertBatch(rows((1L, "a", 1L), (2L, "b", 1L)),
      table, Seq("k"), None, nBuckets = 1, batchId = 1L)
    assert(ManifestTable.versions(spark, table) === Seq(1L, 2L))
    assert(ManifestTable.diff(spark, table, 1L, 2L, Seq("k")).count() === 0L)
  }

  private def fsOf(table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (pageId → pagePath) of the CURRENT root manifest. */
  private def rootPages(table: String): Map[Int, String] = {
    val fs = fsOf(table)
    val dir = new Path(table, "_manifests")
    val v = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(_.stripPrefix("v").stripSuffix(".txt").toLong).max
    val in = fs.open(new Path(dir, s"v$v.txt"))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    lines.filter(_.startsWith("page\t")).map { l =>
      val a = l.split('\t'); a(1).toInt -> a(2)
    }.toMap
  }

  test("paged manifest: reads equal the inline layout; a one-key commit " +
       "rewrites exactly one PAGE file, the rest carry by path") {
    val table = tmpTable()
    val base = (0L until 200L).map(k => (k, s"v$k", 1L))
    assert(ManifestTable.upsertBatch(rows(base: _*), table, Seq("k"),
      Some("ver"), nBuckets = 32, batchId = 0L, pageBuckets = 8))
    assert(state(table) === base.toSet, "paged read equals the data")
    val p1 = rootPages(table)
    assert(p1.nonEmpty && p1.size <= 4,
      s"32 buckets at 8 per page is at most 4 pages: ${p1.keySet}")
    // one-key update, pageBuckets INHERITED (callers don't re-pass it)
    assert(ManifestTable.upsertBatch(rows((7L, "updated", 2L)), table,
      Seq("k"), Some("ver"), nBuckets = 32, batchId = 1L))
    val p2 = rootPages(table)
    assert(p2.size === p1.size)
    val changed = p2.filter { case (id, p) => p1.get(id) != Some(p) }
    assert(changed.size === 1,
      s"exactly one page rewritten — commit manifest I/O is bounded by " +
        s"touched buckets, got ${changed.keySet}")
    assert(p2.count { case (id, p) => p1.get(id) == Some(p) }
      === p1.size - 1, "every untouched page is the SAME file, by path")
    val s = state(table)
    assert(s.size === 200 && s.contains((7L, "updated", 2L)) &&
      s.contains((8L, "v8", 1L)))
  }

  test("paged manifest: crash before the root rename is invisible; " +
       "old-or-new-never-nothing holds verbatim") {
    val table = tmpTable()
    assert(ManifestTable.upsertBatch(rows((1L, "a", 1L), (2L, "b", 1L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 0L,
      pageBuckets = 4))
    val v1 = state(table)
    val fs = fsOf(table)
    // a writer that died after writing data files AND page files but
    // before the root rename: orphan pages + dot-temp root + data are
    // all unreferenced — readers keep resolving v1
    rows((9L, "junk", 9L))
      .write.parquet(s"$table/data/c2/${ManifestTable.BucketCol}=0")
    val pg = fs.create(new Path(s"$table/_manifests/pages/p0-v2.txt"), true)
    pg.write("0\tgarbage-path".getBytes("UTF-8")); pg.close()
    val tmp = fs.create(new Path(s"$table/_manifests/.tmp-v2"), true)
    tmp.write("batchId=1\npagesz=4\npage\t0\tgarbage".getBytes("UTF-8"))
    tmp.close()
    assert(state(table) === v1,
      "half-committed paged attempt is invisible — reader still sees v1")
    // the recovering writer retries the same version: leftover page and
    // data files are overwritten/cleared, the commit lands atomically
    assert(ManifestTable.upsertBatch(rows((2L, "b2", 2L)), table,
      Seq("k"), Some("ver"), nBuckets = 8, batchId = 1L))
    assert(state(table) === Set((1L, "a", 1L), (2L, "b2", 2L)))
  }

  test("paged manifest: readPruned never OPENS an excluded page — " +
       "proved by deleting it out-of-band") {
    import org.apache.spark.sql.functions.col
    val table = tmpTable()
    // batches land in buckets of DIFFERENT pages with disjoint ver
    // ranges, so page-level zone maps separate them: nBuckets=16,
    // pageBuckets=4 → page(b) = b/4
    val byBucket = spark.range(1, 400)
      .select(col("id"), ManifestTable.bucketExpr(Seq("id"), 16).as("b"))
      .as[(Long, Long)].collect().groupBy(_._2)
    def keysInPage(p: Int, n: Int): Seq[Long] = byBucket
      .filter { case (b, _) => b / 4 == p }.values.flatten
      .map(_._1).toSeq.sorted.take(n)
    val gA = keysInPage(0, 3); val gB = keysInPage(2, 3)
    assert(gA.size === 3 && gB.size === 3, "fixture has keys in both pages")
    def batch(keys: Seq[Long], lo: Long) =
      rows(keys.zipWithIndex.map { case (k, i) => (k, s"v$k", lo + i) }: _*)
    ManifestTable.upsertBatch(batch(gA, 0L), table, Seq("k"), None,
      nBuckets = 16, batchId = 0L, statsCol = Some("ver"), pageBuckets = 4)
    ManifestTable.upsertBatch(batch(gB, 200L), table, Seq("k"), None,
      nBuckets = 16, batchId = 1L, statsCol = Some("ver"))
    // delete page 0's file OUT OF BAND: a pruned read of the [200, 300]
    // range must not notice (it never opens the page); the full read
    // must fail loudly — proving the pruned path's I/O really is
    // bounded by matching pages
    val p = rootPages(table)
    fsOf(table).delete(new Path(p(0)), false)
    val pruned = ManifestTable.readPruned(spark, table, 200L, 300L)
      .select("k").as[Long].collect().toSet
    assert(pruned === gB.toSet)
    intercept[Exception] {
      ManifestTable.read(spark, table).count()
    }
    // nothing-matches: the empty frame comes from the ROOT's recorded
    // schema alone — delete every page file; the pruned read of an
    // impossible range must still answer (zero rows, correct schema)
    p.values.foreach(path => fsOf(table).delete(new Path(path), false))
    val none = ManifestTable.readPruned(spark, table, 5000L, 6000L)
    assert(none.count() === 0L &&
      none.columns.toSeq === Seq("k", "v", "ver"))
  }

  test("restore to a PRE-paging (inline) snapshot keeps the paged " +
       "layout — re-paged under the current pagesz (r18 ADVICE)") {
    val table = tmpTable()
    // v1: inline layout
    assert(ManifestTable.upsertBatch(rows((1L, "a", 1L), (2L, "b", 1L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 0L))
    assert(rootPages(table).isEmpty, "precondition: v1 is inline")
    // v2: paging migration + new data
    assert(ManifestTable.upsertBatch(rows((3L, "c", 1L)), table,
      Seq("k"), Some("ver"), nBuckets = 8, batchId = 1L, pageBuckets = 4))
    assert(rootPages(table).nonEmpty, "precondition: v2 is paged")
    // restore to the inline v1: contents roll back, layout must NOT —
    // "once paged, a table stays paged" has to survive restore or every
    // later commit silently loses the bounded-commit-I/O property
    ManifestTable.restore(spark, table, 1L)
    assert(state(table) === Set((1L, "a", 1L), (2L, "b", 1L)),
      "restored contents are v1's")
    assert(rootPages(table).nonEmpty,
      "the restored root must be re-paged, not reverted to inline")
    // and the next upsert inherits the paged layout
    assert(ManifestTable.upsertBatch(rows((4L, "d", 1L)), table,
      Seq("k"), Some("ver"), nBuckets = 8, batchId = 2L))
    assert(rootPages(table).nonEmpty, "subsequent commits stay paged")
    assert(state(table) ===
      Set((1L, "a", 1L), (2L, "b", 1L), (4L, "d", 1L)))
  }

  test("paged manifest: time travel, zero-copy restore, and vacuum of " +
       "unreferenced page files") {
    val table = tmpTable()
    assert(ManifestTable.upsertBatch(rows((1L, "a", 1L), (2L, "b", 1L)),
      table, Seq("k"), Some("ver"), nBuckets = 8, batchId = 0L,
      pageBuckets = 4))
    val pagesV1 = rootPages(table)
    assert(ManifestTable.upsertBatch(rows((1L, "a2", 2L)), table,
      Seq("k"), Some("ver"), nBuckets = 8, batchId = 1L))
    assert(ManifestTable.readVersion(spark, table, 1L)
      .select("k", "v", "ver").as[(Long, String, Long)].collect().toSet
      === Set((1L, "a", 1L), (2L, "b", 1L)), "time travel resolves pages")
    // restore v1: the new root must reference v1's page files BY PATH —
    // zero page writes, zero data copy
    ManifestTable.restore(spark, table, 1L)
    assert(rootPages(table) === pagesV1,
      "restore root references the target's pages directly")
    assert(state(table) === Set((1L, "a", 1L), (2L, "b", 1L)))
    // vacuum to the latest snapshot only: page files referenced by NO
    // live root must be deleted, referenced ones survive
    val fs = fsOf(table)
    val allPagesBefore = fs.listStatus(
      new Path(s"$table/_manifests/pages")).map(_.getPath.toString).toSet
    ManifestTable.vacuum(spark, table, keep = 1)
    val live = rootPages(table).values
      .map(p => fs.makeQualified(new Path(p)).toString).toSet
    val allPagesAfter = fs.listStatus(
      new Path(s"$table/_manifests/pages")).map(_.getPath.toString).toSet
    assert(allPagesAfter === live,
      s"only live pages survive vacuum: $allPagesAfter vs $live")
    assert(allPagesBefore.size > live.size,
      "precondition: vacuum had orphan pages to drop")
    assert(state(table) === Set((1L, "a", 1L), (2L, "b", 1L)),
      "table reads intact after vacuum")
  }

  test("zone-map stats prune files by range, conservatively") {
    import org.apache.spark.sql.functions.col
    val table = tmpTable()
    // batches must land in DISJOINT buckets, or the upsert merge mixes
    // every ver-range into every rewritten file and nothing can prune —
    // compute each key's bucket and pick three keys per three buckets
    val byBucket = spark.range(1, 300)
      .select(col("id"),
        ManifestTable.bucketExpr(Seq("id"), 64).as("b"))
      .as[(Long, Long)].collect().groupBy(_._2)
    val Seq(g1, g2, g3) = byBucket.values.filter(_.length >= 3)
      .toSeq.sortBy(_.head._2).take(3).map(_.map(_._1).take(3).toSeq)
    def batch(keys: Seq[Long], lo: Long) =
      rows(keys.zipWithIndex.map { case (k, i) =>
        (k, s"v$k", lo + i) }: _*)
    ManifestTable.upsertBatch(batch(g1, 0L), table, Seq("k"), None,
      nBuckets = 64, batchId = 0L, statsCol = Some("ver"))
    ManifestTable.upsertBatch(batch(g2, 100L), table, Seq("k"), None,
      nBuckets = 64, batchId = 1L, statsCol = Some("ver"))
    ManifestTable.upsertBatch(batch(g3, 200L), table, Seq("k"), None,
      nBuckets = 64, batchId = 2L, statsCol = Some("ver"))
    val entries = ManifestTable.currentFileEntries(spark, table)
    assert(entries.forall(_.stats.isDefined), "every file carries stats")
    val pruned = ManifestTable.readPruned(spark, table, 200L, 300L)
    val full = ManifestTable.read(spark, table)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      "range read must touch fewer files than the table holds")
    // pruning is only about files: same rows after the row-level filter
    assert(pruned.filter(col("ver") >= 200L && col("ver") <= 300L)
      .count() === full.filter(col("ver") >= 200L && col("ver") <= 300L)
      .count())
    assert(pruned.filter(col("ver") >= 200L).count() === 3L)
  }

  test("files without stats are always read (conservative pruning)") {
    val table = tmpTable()
    ManifestTable.upsertBatch(rows((1L, "a", 5L)), table, Seq("k"),
      None, nBuckets = 2, batchId = 0L) // no statsCol
    ManifestTable.upsertBatch(rows((2L, "b", 500L)), table, Seq("k"),
      None, nBuckets = 2, batchId = 1L, statsCol = Some("ver"))
    val pruned = ManifestTable.readPruned(spark, table, 1000L, 2000L)
    // the stats-bearing file (ver=500) is pruned; the stats-less file
    // must survive pruning even though its rows miss the range
    val kept = pruned.select("k").as[Long].collect().toSet
    assert(kept.contains(1L), "stats-less file must be read")
    assert(!kept.contains(2L), "out-of-range stats file must be pruned")
  }

  test("compact folds multi-file buckets to one file, same data and stats") {
    val table = tmpTable()
    // force the writer to split buckets into many small files — the one
    // way a commit produces >1 file per bucket (class doc)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try ManifestTable.upsertBatch(
      rows((1L to 16L).map(k => (k, s"v$k", k * 10)): _*),
      table, Seq("k"), None, nBuckets = 2, batchId = 0L,
      statsCol = Some("ver"))
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val before = ManifestTable.currentFileEntries(spark, table)
    val beforeState = state(table)
    assert(before.groupBy(_.bucket).exists(_._2.size > 1),
      "precondition: at least one bucket holds several files")
    assert(ManifestTable.compact(spark, table, Seq("k"), nBuckets = 2))
    val after = ManifestTable.currentFileEntries(spark, table)
    assert(after.groupBy(_.bucket).forall(_._2.size == 1),
      "every bucket folded to one file")
    assert(state(table) === beforeState, "compaction changes no row")
    // no statsCol passed: folded buckets keep the UNION of their old
    // files' ranges — pruning stays functional without a data scan
    for ((b, fsq) <- before.groupBy(_.bucket)) {
      val want = (fsq.map(_.stats.get._1).min, fsq.map(_.stats.get._2).max)
      assert(after.find(_.bucket == b).get.stats === Some(want))
    }
    // version advanced, batchId carried → replay detection intact
    val Some((v, b)) = ManifestTable.currentVersionAndBatch(spark, table)
    assert(v === 2L && b === 0L)
    assert(!ManifestTable.upsertBatch(rows((99L, "x", 1L)), table,
      Seq("k"), None, nBuckets = 2, batchId = 0L),
      "replayed batch 0 still skipped after compaction")
    // already compacted → no-op, no new version
    assert(!ManifestTable.compact(spark, table, Seq("k"), nBuckets = 2))
    assert(ManifestTable.currentVersionAndBatch(spark, table)
      .exists(_._1 === 2L))
  }

  test("guardedUpsert: clean batch commits; poisoned batch is rejected " +
       "with the table left bit-identical") {
    import graft.operators.Profiling.{InRange, NotNull}
    val table = tmpTable()
    val rules = Seq(NotNull("v"), InRange("ver", 0, 10))
    val r1 = ManifestTable.guardedUpsert(rows((1L, "a", 1L), (2L, "b", 2L)),
        table, Seq("k"), rules)
      .select("rule", "violations", "passed", "committed")
      .as[(String, Long, Boolean, Boolean)].collect().toSet
    assert(r1 === Set(("not_null(v)", 0L, true, true),
                      ("in_range(ver)", 0L, true, true)))
    val v1 = state(table)
    val ver1 = ManifestTable.currentVersionAndBatch(spark, table).map(_._1)
    // batch 2: one NULL v and one out-of-range ver — MUST NOT commit
    val badRows = Seq((3L, null.asInstanceOf[String], 1L), (4L, "d", 99L))
      .toDF("k", "v", "ver")
    val r2 = ManifestTable.guardedUpsert(badRows, table, Seq("k"), rules)
      .select("rule", "violations", "passed", "committed")
      .as[(String, Long, Boolean, Boolean)].collect().toSet
    assert(r2 === Set(("not_null(v)", 1L, false, false),
                      ("in_range(ver)", 1L, false, false)))
    assert(state(table) === v1, "rejected batch must not change the data")
    assert(ManifestTable.currentVersionAndBatch(spark, table).map(_._1)
      === ver1, "rejected batch must not advance the version either")
  }

  test("schema evolution: additive columns null-fill history, drift " +
       "without the flag rejects, time travel keeps each version's schema") {
    val table = tmpTable()
    assert(ManifestTable.upsertBatch(rows((1L, "a", 1L), (2L, "b", 1L)),
      table, Seq("k"), nBuckets = 4))
    // additive evolution: new column `w`, existing rows null-fill
    val evolved = Seq((2L, "b2", 2L, 7.5), (3L, "c", 1L, 9.0))
      .toDF("k", "v", "ver", "w")
    assert(ManifestTable.upsertBatch(evolved, table, Seq("k"),
      nBuckets = 4, allowEvolution = true))
    val now = ManifestTable.read(spark, table)
      .select("k", "v", "ver", "w")
      .as[(Long, String, Long, Option[Double])].collect().toSet
    assert(now === Set((1L, "a", 1L, None), (2L, "b2", 2L, Some(7.5)),
                       (3L, "c", 1L, Some(9.0))),
      "pre-evolution rows read with the new column as NULL")
    // the batch may also OMIT old columns (additive superset table)
    assert(ManifestTable.upsertBatch(Seq((4L, 4L)).toDF("k", "ver"),
      table, Seq("k"), nBuckets = 4, allowEvolution = true))
    assert(ManifestTable.read(spark, table).count() === 4)
    // time travel: version 1 still reads with its own (pre-w) schema
    assert(!ManifestTable.readVersion(spark, table, 1L)
      .columns.contains("w"))
    assert(ManifestTable.readVersion(spark, table, 2L)
      .columns.contains("w"))
    // drift without the flag is rejected loudly, table untouched
    val before = ManifestTable.currentVersionAndBatch(spark, table)
    intercept[IllegalArgumentException] {
      ManifestTable.upsertBatch(
        Seq((5L, "e", 1L, "x")).toDF("k", "v", "ver", "extra"),
        table, Seq("k"), nBuckets = 4)
    }
    // type change is corruption, not evolution — rejected even with flag
    intercept[IllegalArgumentException] {
      ManifestTable.upsertBatch(Seq((5L, 99L, 1L)).toDF("k", "v", "ver"),
        table, Seq("k"), nBuckets = 4, allowEvolution = true)
    }
    assert(ManifestTable.currentVersionAndBatch(spark, table) === before)
    // compaction folds schema-spanning files under the unified schema
    ManifestTable.compact(spark, table, Seq("k"), nBuckets = 1)
    assert(ManifestTable.read(spark, table)
      .select("k", "v", "ver", "w")
      .as[(Long, String, Option[Long], Option[Double])].collect().toSet
      .map((r: (Long, String, Option[Long], Option[Double])) => r._1)
      === Set(1L, 2L, 3L, 4L))
  }

  test("adaptive bucket count: sized at creation, recorded, and " +
       "inherited by later commits regardless of caller parameters") {
    val table = tmpTable()
    // creation: 6 rows with a 4-row target → 2 buckets, not the
    // 64-bucket capacity (guide §6: no near-empty small files)
    assert(ManifestTable.upsertBatch(
      rows((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L), (4L, "d", 1L),
        (5L, "e", 1L), (6L, "f", 1L)),
      table, Seq("k"), Some("ver"), nBuckets = 64, batchId = 0L,
      targetRowsPerBucket = 4L))
    val buckets1 = ManifestTable.currentFiles(spark, table)
      .map(_._1).toSet
    assert(buckets1.size === 2, s"expected 2 buckets, got $buckets1")
    // a later commit passing a DIFFERENT capacity and NO target still
    // lands keys in the recorded layout — upserts replace, not duplicate
    assert(ManifestTable.upsertBatch(rows((2L, "b2", 2L), (7L, "g", 2L)),
      table, Seq("k"), Some("ver"), nBuckets = 16, batchId = 1L))
    assert(state(table) === Set((1L, "a", 1L), (2L, "b2", 2L),
      (3L, "c", 1L), (4L, "d", 1L), (5L, "e", 1L), (6L, "f", 1L),
      (7L, "g", 2L)))
    assert(ManifestTable.currentFiles(spark, table).map(_._1).toSet
      .subsetOf((0L until 2L).toSet),
      "inherited 2-bucket layout — no bucket beyond the recorded count")
    // a big-enough creation batch still gets the full capacity
    val t2 = tmpTable()
    assert(ManifestTable.upsertBatch(
      rows((1L to 40L).map(i => (i, s"v$i", 1L)): _*),
      t2, Seq("k"), Some("ver"), nBuckets = 4, batchId = 0L,
      targetRowsPerBucket = 4L))
    assert(ManifestTable.currentFiles(spark, t2).map(_._1).toSet.size === 4,
      "40 rows at 4/bucket clamps to the 4-bucket capacity")
  }

  test("an index cache whose build failed before its manifest commit is " +
       "rebuilt, not served") {
    val d = java.nio.file.Files.createTempDirectory("graft-sig-corpus")
      .toString
    (0L until 16L).map(i => (i, s"w${i % 5} w${i % 3} w${i % 7} w$i"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val dir = SparkEntry.ensureSigCache(spark, d)
    val n = ManifestTable.read(spark, dir).count()
    assert(n > 0)
    // a build that threw after writing data/ but before its commit
    // leaves data files and no committed manifest
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(dir, "_manifests"), true))
    assert(fs.exists(new Path(dir, "data")))
    assert(SparkEntry.ensureSigCache(spark, d) === dir)
    assert(ManifestTable.read(spark, dir).count() === n,
      "ensure must rebuild an uncommitted index, not return it")
  }
}
