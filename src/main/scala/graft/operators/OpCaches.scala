package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Registry of DataFrames persisted INSIDE graft operators.
  *
  * Several operators persist an intermediate that feeds multiple
  * consumers of the returned plan (e.g. [[Dedup.allPairsJaccard]]'s
  * shingle table, [[Dedup.minhashNearDups]]'s banded signature table).
  * The persist is load-bearing — without it the dominant per-row work
  * runs once per consumer — but Spark's CacheManager holds such entries
  * until an explicit `unpersist`: the ContextCleaner does NOT release
  * them when the returned DataFrame goes out of scope. A long-lived
  * session that invokes these operators over many different inputs
  * would therefore accumulate executor memory/disk without bound.
  *
  * Every operator-internal `persist` is registered here; call
  * [[release]] after the consuming action(s) when the pipeline is done
  * with the operator's output (re-running the returned plan afterwards
  * is still correct — just uncached). Identical re-invocations before a
  * release are harmless: the CacheManager keys entries by canonicalized
  * plan, so they share one entry rather than stacking copies.
  *
  * ==Lineage cuts==
  *
  * Operators that materialize a multi-consumer intermediate as a plan
  * leaf instead of a persist (Graphs' rank/score loops, Ngrams' EM
  * vocabulary, Dedup's CC labels and audit truth tables, ManifestTable's
  * bucketed commit batch, …) do it through [[cut]] (lazy) or [[cutNow]]
  * (eager), the one place the engine decides HOW an intermediate is
  * materialized. Both cut to non-replicated local checkpoints, which
  * assumes a single-JVM or loss-tolerant deployment; the durability
  * trade-off and the escalation menu are in [[cut]]'s doc, and changing
  * that choice is an edit to these two functions, not to their callers.
  */
object OpCaches {
  private val frames = scala.collection.mutable.ListBuffer.empty[DataFrame]
  private val sessionFrames =
    scala.collection.mutable.ListBuffer.empty[DataFrame]

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
    * cuts need no [[register]].
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

  /** Track an operator-persisted frame for later [[release]]. Strongly
    * referenced on purpose: the returned plan does NOT keep the
    * intermediate's Dataset wrapper alive, and the CacheManager keeps
    * the cached DATA alive regardless of the wrapper — a weak ref here
    * would let GC collect the only handle that can still unpersist the
    * entry. The wrapper itself is a few hundred bytes; the registry is
    * bounded by release() calls, not by data size. */
  private[graft] def register(df: DataFrame): DataFrame = synchronized {
    frames += df
    df
  }

  /** Track a SESSION-scoped persisted frame — model state an operator
    * memoizes across queries (e.g. [[Ngrams]]' BPE training memo).
    * Counted by [[registered]] so the accounting is uniform, but
    * deliberately NOT freed by the per-query [[release]]: the owner
    * bounds and evicts its own entries via [[deregisterSession]] (and a
    * full teardown — spec afterAll, end of Verify — clears the owner's
    * memo, which deregisters everything). */
  private[graft] def registerSession(df: DataFrame): DataFrame =
    synchronized {
      sessionFrames += df
      df
    }

  /** Unpersist and stop tracking one session-scoped frame (memo
    * eviction or full memo clear). Reference-identity match: the owner
    * hands back the exact wrapper it registered. */
  private[graft] def deregisterSession(df: DataFrame): Unit =
    synchronized {
      try df.unpersist()
      catch { case _: Throwable => () } // stopped session: nothing to free
      val i = sessionFrames.indexWhere(_ eq df)
      if (i >= 0) sessionFrames.remove(i)
    }

  /** Number of registered frames awaiting release, per-query AND
    * session-scoped (test/observability hook). */
  def registered: Int = synchronized { frames.size + sessionFrames.size }

  /** Unpersist every PER-QUERY frame an operator registered since the
    * last release; session-scoped frames (bounded memoized model state)
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
    * per-query frames ([[release]], blocking) AND the session-scoped
    * BPE and unigram training memos. Harnesses that time or profile
    * queries one by one call this between queries — without the memo
    * clears, a later query (or a later run of the same query) that
    * trains an already-seen tokenizer config is priced as a memo hit
    * instead of its training cost. */
  def resetQueryState(): Unit = {
    release(blocking = true)
    Ngrams.clearBpeCache()
    Ngrams.clearUnigramCache()
  }
}
