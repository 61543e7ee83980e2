package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one owner of operator-held state: every intermediate a graft
  * operator keeps alive beyond one plan node is held here, with one of
  * three lifetimes.
  *
  * ==Lineage cuts: [[cut]] / [[cutNow]]==
  *
  * Operators that materialize a multi-consumer intermediate as a plan
  * leaf (Graphs' rank/score loops, Ngrams' EM vocabulary, Dedup's CC
  * labels and audit truth tables, ManifestTable's bucketed commit
  * batch, …) cut it to a local checkpoint: lazy ([[cut]]) or eager
  * ([[cutNow]]). The ContextCleaner reclaims the blocks when the RDD is
  * collected. Both assume a single-JVM or loss-tolerant deployment; the
  * durability trade-off and the escalation menu are in [[cut]]'s doc,
  * and changing that choice is an edit to these two functions, not to
  * their callers.
  *
  * ==Per-query pins: [[pin]] / [[release]]==
  *
  * An intermediate that feeds several consumers of the returned plan
  * (e.g. [[Dedup.allPairsJaccard]]'s shingle table,
  * [[Dedup.minhashNearDups]]' banded signature table) is persisted at
  * the session's `spark.sql.defaultCacheStorageLevel` through [[pin]].
  * The persist is load-bearing — without it the dominant per-row work
  * runs once per consumer — but Spark's CacheManager holds such entries
  * until an explicit `unpersist`: the ContextCleaner does NOT release
  * them when the returned DataFrame goes out of scope. So every pin is
  * tracked here until [[release]], which the pipeline calls after the
  * consuming action(s) (re-running the returned plan afterwards is
  * still correct — just uncached). Identical re-invocations before a
  * release share one CacheManager entry, which keys by canonicalized
  * plan.
  *
  * ==Session memos: [[memo]]==
  *
  * Model state an operator reuses ACROSS queries (the BPE and unigram
  * training states, the stored PQ codebook) lives in a [[Memo]]: keyed
  * by (session, canonicalized input plan, parameters), at most
  * [[MemoCap]] entries, oldest evicted first, each value freed as it
  * drops. [[release]] leaves memos alone; [[resetQueryState]] clears
  * them.
  *
  * A persist or cache outside these (a loop's scoped persist/unpersist
  * pair, a stream's per-batch cache, the ETL's fan-out input) is listed
  * with its reason in `PersistLintSpec`.
  */
object OpCaches {
  private val frames = scala.collection.mutable.ListBuffer.empty[DataFrame]
  private val memos = scala.collection.mutable.ListBuffer.empty[Memo[_]]

  /** Most entries one [[Memo]] retains; one entry is model-sized. */
  private[graft] val MemoCap = 4

  /** Cut `df`'s lineage into a LAZY plan leaf
    * (`localCheckpoint(eager = false)`): computed once and shared by
    * every consumer. Lazy only in its last stage — under AQE the input's
    * shuffle stages run when `cut` is called, since building the leaf
    * executes the adaptive plan; the last stage runs with the first
    * action that reads the leaf. A cut truncates lineage (so an
    * i-iteration loop plans ~a dozen operators per round instead of
    * compounding 3^i duplicated subtrees) and its blocks carry
    * accurate sizes for AQE/broadcast planning, which a
    * columnar-cache InMemoryRelation defeats (measured in
    * [[Graphs.pageRankWeighted]]: 1.4 s checkpoint vs 14.9 s persist).
    * ContextCleaner reclaims the blocks when the RDD is collected, so
    * cuts need no [[release]].
    *
    * With keys `by`, the table is first hash-repartitioned on them to
    * `defaultParallelism` partitions (r20): AQE rightly coalesces a
    * KB-scale aggregate output to one partition, but the checkpoint
    * freezes that layout, and the next round's join then streams a
    * one-partition side as a single task — measured as 0.5–1.1 s
    * single-task stages per HITS round at sf0.1, and the reason q_hits
    * scaled flat from 8 to 32 cores. defaultParallelism is runtime
    * cluster state, not a tuned constant; the extra exchange moves only
    * the cut table. Without keys the input layout is kept.
    *
    * THE TRADEOFF THIS BUYS INTO: `localCheckpoint` stores NON-REPLICATED
    * executor-local blocks with the lineage cut off — on a single-JVM
    * local master a block cannot be lost, but on a real cluster losing one
    * executor kills the query with NO recompute path (Spark fails it with
    * a "checkpoint block not found" error). A cluster deployment
    * escalates per the standard menu, in preference order: (1) set
    * `spark.checkpoint.dir` on reliable storage and switch the cut to
    * `Dataset.checkpoint(eager = false)` — same plan-leaf semantics,
    * recoverable blocks, one extra write/read of the cut table; (2)
    * `persist(StorageLevel.MEMORY_AND_DISK_2)` instead — replicated
    * blocks survive one executor loss, at 2× the block memory and
    * WITHOUT the lineage cut (acceptable for low iteration counts); (3)
    * accept recompute-on-failure by persisting with lineage intact. The
    * cut stays local because the engine's harness is single-JVM and the
    * cut tables are O(|V|)-sized round state or bounded batches; the
    * choice is an availability knob, never a correctness one — results
    * are identical on every path. The same holds for [[cutNow]]. */
  private[graft] def cut(df: DataFrame, by: Column*): DataFrame = {
    val laid =
      if (by.isEmpty) df
      else df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        by: _*)
    laid.localCheckpoint(eager = false)
  }

  /** EAGER form of [[cut]]
    * (`localCheckpoint(eager = true)`): runs one job at call time and
    * returns a leaf over the materialized blocks — for a table the
    * driver reads right away (a count, a size-dependent choice) or one
    * that must be fixed before a loop starts. Same durability trade-off
    * as [[cut]]; the input layout is kept. */
  private[graft] def cutNow(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true)

  /** Persist `df` at the session's default storage level and hold it
    * until the next [[release]]. Strongly referenced on purpose: the
    * returned plan does NOT keep the intermediate's Dataset wrapper
    * alive, and the CacheManager keeps the cached DATA alive regardless
    * of the wrapper — a weak ref here would let GC collect the only
    * handle that can still unpersist the entry. The wrapper itself is a
    * few hundred bytes; the registry is bounded by release() calls, not
    * by data size. */
  private[graft] def pin(df: DataFrame): DataFrame = {
    df.persist()
    synchronized { frames += df }
    df
  }

  /** A bounded session memo: [[apply]] computes a value once per
    * (session, canonicalized plan of `df`, params) — canonicalization
    * normalizes expression ids, so two independent reads of the same
    * source hit the same entry, while any change of input or params
    * misses. At most [[MemoCap]] entries are kept; a new key past the
    * cap evicts the oldest, and every dropped value goes through `free`
    * (a failing free — e.g. a stopped session — is ignored). Computing
    * holds the memo's lock, so concurrent callers train one config
    * once. */
  final class Memo[V] private[OpCaches] (free: V => Unit) {
    private val entries = scala.collection.mutable.LinkedHashMap
      .empty[(SparkSession, LogicalPlan, Seq[Any]), V]

    def apply(df: DataFrame, params: Any*)(compute: => V): V =
      synchronized {
        val key =
          (df.sparkSession, df.queryExecution.analyzed.canonicalized, params)
        entries.getOrElse(key, {
          while (entries.size >= MemoCap) drop(entries.head._1)
          val v = compute
          entries.put(key, v)
          v
        })
      }

    /** Free and drop every entry. */
    def clear(): Unit = synchronized { entries.keys.toList.foreach(drop) }

    def size: Int = synchronized { entries.size }

    private def drop(key: (SparkSession, LogicalPlan, Seq[Any])): Unit =
      entries.remove(key).foreach { v =>
        try free(v)
        catch { case _: Throwable => () } // stopped session: nothing to free
      }
  }

  /** A new [[Memo]] whose entries [[registered]] counts and
    * [[resetQueryState]] clears. */
  private[graft] def memo[V](free: V => Unit): Memo[V] = {
    val m = new Memo(free)
    synchronized { memos += m }
    m
  }

  /** Memos are read outside OpCaches' lock: a memo computing an entry
    * holds its own lock and may [[pin]], so taking them in the other
    * order could deadlock. */
  private def allMemos: List[Memo[_]] = synchronized { memos.toList }

  /** Pinned frames awaiting [[release]] plus the entries of every memo
    * (test/observability hook). */
  def registered: Int =
    synchronized { frames.size } + allMemos.map(_.size).sum

  /** Unpersist every frame pinned since the last release; memo entries
    * survive by design. Non-blocking by default, matching
    * `Dataset.unpersist()`. */
  def release(blocking: Boolean = false): Unit = synchronized {
    frames.foreach { df =>
      try df.unpersist(blocking)
      catch { case _: Throwable => () } // stopped session: nothing to free
    }
    frames.clear()
  }

  /** Reset everything one query can leave behind for the next: the
    * pinned frames ([[release]], blocking) AND every memo (BPE and
    * unigram training states, stored PQ codebooks). Harnesses that time
    * or profile queries one by one call this between queries — without
    * the memo clears, a later query (or a later run of the same query)
    * that trains an already-seen config is priced as a memo hit instead
    * of its training cost. */
  def resetQueryState(): Unit = {
    release(blocking = true)
    allMemos.foreach(_.clear())
  }
}
