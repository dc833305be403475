package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One driver-contract query: a Spark plan plus (when SQL-expressible) a
  * DuckDB oracle over the same parquet tables. See SparkEntry. */
case class QueryDef(name: String,
                    fn: (SparkSession, String) => DataFrame,
                    oracle: Option[String])

package object queries {

  /** Read one driver table (TESTDATA.md). Parquet scan → column pruning
    * and predicate pushdown apply to everything built on top.
    *
    * The events table stores TIMESTAMP(NANOS) which Spark 4 rejects
    * unless nanos are read as raw longs; we normalize back to a real
    * (microsecond) TimestampType column with exact integer division, so
    * downstream plans are format-agnostic. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(s"$dir/$name.parquet")
    df.schema.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
      .map(_ => df.withColumn("ts", timestamp_micros(expr("ts div 1000"))))
      .getOrElse(df)
  }

  /** Exact integer cents: the oracle-parity workhorse. Floating sums are
    * summation-order-dependent (Spark partials vs DuckDB), so any
    * aggregate the driver hash-compares is computed on
    * `round(x*100)::long`. The per-row double product/round is identical
    * IEEE arithmetic in both engines → bit-stable hashes at any scale. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Derived mean with deterministic float: exact-int sum / 100.0 / n,
    * rounded — single-expression IEEE math on identical inputs. */
  def meanFromCents(sumCents: Column, n: Column): Column =
    round(sumCents / 100.0 / n, 6)

  /** Day bucket as DATE (DuckDB `date_trunc('day', ts)` yields DATE;
    * Spark yields TIMESTAMP — cast for parity). Named to avoid shadowing
    * clashes with `functions.day` (wildcard imports outrank package-object
    * members from other files in Scala 2 precedence). */
  def dayBucket(c: Column): Column = to_date(date_trunc("day", c))

  /** Second-truncated timestamp: events carry nanoseconds, which Spark
    * truncates to micros on read but DuckDB preserves — raw `ts` values
    * must never be emitted by an oracle-checked query. */
  def toSecond(c: Column): Column = date_trunc("second", c)

  /** Idempotent cache: repeated pipeline invocations produce the same
    * canonicalized plan, and calling `.cache()` on it again makes the
    * CacheManager log "already cached" warnings. `storageLevel` is the
    * public probe for an existing entry.
    *
    * Lifecycle contract: the CALLER owns release. Each distinct
    * input/param combination is a distinct canonicalized plan and
    * therefore a distinct CacheManager entry for the session's lifetime;
    * pipelines that cache request-scoped frames must expose an
    * unpersist path (TextQueries → per-session memo eviction,
    * Similarity/TextDedup index
    * frames → one entry per (input, params), reused across calls). A
    * long-lived service cycling many distinct corpora retires a
    * corpus's indexes with [[releaseIndexes]] — without it the
    * CacheManager accumulates one entry per corpus forever. */
  def cacheOnce(df: DataFrame): DataFrame = registry.synchronized {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      df.cache()
      registry += df
    }
    df
  }

  /** Every live frame cacheOnce has materialized, so eviction can be
    * keyed by the SOURCE frame rather than the derived index the caller
    * never held. Entries whose cache was dropped elsewhere (a caller
    * unpersisting the same frame) are pruned on each access, so the
    * registry tracks live entries only. */
  private val registry = scala.collection.mutable.ListBuffer.empty[DataFrame]

  private def pruneRegistry(): Unit = registry.filterInPlace(
    _.storageLevel != org.apache.spark.storage.StorageLevel.NONE)

  /** Live cacheOnce entries (post-prune) — the service-health probe a
    * corpus-cycling caller watches to confirm eviction keeps up. */
  def cachedIndexCount: Int = registry.synchronized {
    pruneRegistry(); registry.size
  }

  /** Evict every cacheOnce-materialized frame DERIVED FROM `source`:
    * any registered frame whose analyzed plan contains a subtree that
    * `sameResult`s the source's plan (plan containment, so the caller
    * passes the corpus frame it built indexes over — LSH buckets, IVF
    * cells, shingle signatures — without having kept handles to the
    * derived frames). Returns the number of entries released.
    * `blocking = false`: eviction is async, the entries are removed from
    * the CacheManager immediately.
    *
    * `except` frames survive even when their plans contain the source —
    * the rebuild-and-swap case: a fresh index built over
    * `oldCorpus.union(delta)` CONTAINS the old corpus's plan, so
    * containment alone would evict the replacement the caller just
    * materialized ([[graft.streaming.StreamOps.refreshAnnIndex]] passes
    * the fresh index here). Matched by reference — the caller holds the
    * exact frame it wants kept. */
  def releaseIndexes(source: DataFrame, except: Seq[DataFrame] = Nil): Int =
    registry.synchronized {
      pruneRegistry()
      val target = source.queryExecution.analyzed
      val hit = registry.filter(f =>
        !except.exists(_ eq f) &&
        f.queryExecution.analyzed.exists(_.sameResult(target)))
      hit.foreach(_.unpersist())
      registry.filterInPlace(f => !hit.exists(_ eq f))
      hit.size
    }

  /** Evict every cacheOnce entry (session teardown / test isolation). */
  def releaseAllIndexes(): Int = registry.synchronized {
    pruneRegistry()
    val n = registry.size
    registry.foreach(_.unpersist())
    registry.clear()
    n
  }
}
