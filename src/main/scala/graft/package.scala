import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for oracle-deterministic query construction.
  *
  * Every declared query is differentially tested against DuckDB running
  * equivalent ANSI SQL on the same parquet inputs, so cross-engine float
  * determinism is a first-class concern:
  *
  *  - `dsum` makes double sums order-independent by accumulating in
  *    DECIMAL(38,6) (exact) and casting the final value back to double —
  *    both engines produce the bit-identical result regardless of
  *    partition/row order.
  *  - `r6` rounds derived floating-point columns to 6 decimals; inputs are
  *    identical doubles in both engines, so only accumulated ulp drift
  *    differs, which is far below 1e-6 for these workloads.
  *  - `tsUs` projects timestamps to epoch microseconds. The events table
  *    has shipped timestamps in several physical encodings (nanos-as-long,
  *    TIMESTAMP_NTZ micros); `Tables.events` canonicalizes all of them
  *    to micro-resolution TimestampType, so comparing/ordering at micro
  *    resolution (DuckDB side uses epoch_us) is encoding-independent.
  */
package object graft {
  type Query = (SparkSession, String) => DataFrame

  /** Order-independent exact sum of a double column (see above). */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(38, 6))).cast("double")

  /** Canonical 6-decimal rounding for derived floats. */
  def r6(c: Column): Column = round(c, 6)

  /** Timestamp → epoch microseconds (matches DuckDB epoch_us). */
  def tsUs(c: Column): Column = unix_micros(c)

  /** Parallelize heavy per-row work above an under-split scan (guide
    * §2.5: unsplittable input → repartition immediately after the
    * read). The driver's testdata parquet is single-file AND single-
    * row-group, so every scan is ONE split and any nontrivial per-row
    * compute placed above it (string parsing, explodes, wide decimal
    * partials) runs at parallelism 1 while the other 31 cores idle —
    * the r15 plan audit found exactly that shape on the text/tpch
    * scan stages. Hash-repartition on the given key to the session's
    * shuffle parallelism (hash, not round-robin: no
    * sortBeforeRepartition pass, deterministic under task retry) —
    * but ONLY when the scan is actually under-parallel (fewer splits
    * than half the shuffle partitions): a production table with
    * thousands of splits keeps its layout and pays nothing, so this
    * is a runtime data-layout adaptation, not a local[32] constant.
    */
  def spreadScan(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    // Probe the LEAVES of the initial physical plan, not `df.rdd`: the
    // rdd conversion forces full physical planning and — under AQE on a
    // plan that contains an exchange — materializes query stages (runs
    // jobs) at DataFrame-construction time (r15 ADVICE low item). The
    // pre-AQE `sparkPlan` is planning-only, and leaves carry no
    // exchanges, so asking each leaf for its partition count builds RDD
    // metadata without running anything. A plan that already contains
    // an exchange is left alone: everything above the shuffle already
    // runs at shuffle parallelism (the old probe saw the same partition
    // count and declined identically).
    val plan = df.queryExecution.sparkPlan
    val hasExchange = plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    val parts =
      if (hasExchange) target
      else plan.collectLeaves().map(_.execute().getNumPartitions)
        .foldLeft(0)(math.max)
    // Multiple keys let a downstream groupBy/distinct on exactly these
    // columns SHARE the spread exchange (guide §2.4: repartition(k)
    // followed by groupBy(k) reuses the partitioning) — the spread is
    // then free beyond the shuffle the aggregation needed anyway.
    if (parts * 2 < target) df.repartition(target, keys: _*) else df
  }

  /** One-line failure cause for artifacts: exception class + first two
    * message lines, raw-truncated BEFORE any JSON escaping (truncating
    * an escaped string can split an escape pair and emit unterminated
    * JSON). Shared by Bench ("first_error") and Verify (errors.json) so
    * the two surfaces report identically-shaped causes.
    */
  def errLine(name: String, e: Throwable): String =
    s"$name: ${e.getClass.getSimpleName}: ${
      Option(e.getMessage).getOrElse("")
        .linesIterator.take(2).mkString(" ")}".take(160)

  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    /** `persist()` with a context-stop release path — every
      * query-internal cache entry must go through this (or carry its
      * own explicit unpersist) so nothing stays pinned past the
      * application. See [[ContextCaches.pin]].
      */
    def pinned(): DataFrame = ContextCaches.pin(df)
  }
}
