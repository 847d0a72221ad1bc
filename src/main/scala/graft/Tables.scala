package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types._

/** Loader for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every query in the engine takes a `sfDir` (scale-factor directory) and
  * reads the parquet tables from it — the same tables the DuckDB oracle
  * reads. At 100 TB these would be partitioned/bucketed warehouse tables;
  * the access path (columnar parquet scan with pushed filters + pruned
  * columns) is identical.
  *
  * Two ingest-robustness guarantees live here (and only here, so every
  * query inherits them):
  *
  *  1. '''Encoding-tolerant events timestamps.''' The driver has shipped
  *     `events.ts` both as parquet TIMESTAMP(NANOS) (which Spark 4 only
  *     reads as a raw long under the legacy `nanosAsLong` conf) and as
  *     TIMESTAMP(MICROS)/TIMESTAMP_NTZ. [[eventsTs]] dispatches on the
  *     type the file actually contains and canonicalizes both encodings
  *     to the same session-TZ `TimestampType` at micro resolution — the
  *     value DuckDB's `epoch_us(ts)` produces (session TZ is pinned UTC,
  *     so the NTZ→LTZ cast is value-stable).
  *  2. '''Load-time schema contracts.''' Every table is checked once per
  *     file state against the declared column/type contract below; a
  *     drifted file fails with one actionable message naming the
  *     table, column, expected and found type — instead of N cryptic
  *     analysis errors downstream.
  *
  * Schema inference is a Spark job (a parallel footer read), so it runs
  * only when a path's file state changes: the first read of a path
  * infers its schema, checks the contract and records both against the
  * path's sorted leaf-file listing (name, length, mtime). A later read
  * whose listing is unchanged hands the recorded schema to the reader
  * and runs no job, which keeps query construction job-free on the
  * registry path. A rewritten file changes the listing, so it is
  * inferred and checked again.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The documents table's DDL schema — shared by the corpus
    * interchange readers (JSONL/CSV round-trips) and the corpus
    * pipeline's ingest stage, which must parse exactly these columns.
    */
  val DocumentsSchema =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val files = listing(spark, path)
    val known = Option(schemas.get(path)).filter(_.files == files)
    val (raw, nanosRead) = known match {
      case Some(k) =>
        val session = if (k.nanosRead) nanosSession(spark) else spark
        (session.read.schema(k.schema).parquet(path), k.nanosRead)
      case None =>
        if (name == "events") inferEvents(spark, path)
        else (spark.read.parquet(path), false)
    }
    val df = if (name == "events") withCanonicalTs(raw, path, nanosRead) else raw
    if (known.isEmpty) {
      assertContract(sfDir, name, df.schema)
      schemas.put(path, Inferred(files, raw.schema, nanosRead))
    }
    df
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** A path's inferred raw schema (before the events `ts`
    * canonicalization), the leaf-file listing it was inferred from, and
    * whether the nanos clone read it. Entries are replaced, never
    * evicted: one small entry per table path ever read.
    */
  private final case class Inferred(files: Seq[(String, Long, Long)],
      schema: StructType, nanosRead: Boolean)

  private val schemas = new ConcurrentHashMap[String, Inferred]()

  /** Sorted (name, length, mtime) of every file under `path`: a
    * file-system listing, no Spark job. A missing path lists empty and
    * is never recorded, so the reader raises its own not-found error.
    */
  private def listing(s: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => () }
    files.result().sorted
  }

  // One nanos-enabled clone per parent session, created on the first
  // nanos-encoded read and evicted with the context: cloning per read
  // would rebuild session state for every query touching events.
  private val nanosSessions =
    scala.collection.concurrent.TrieMap.empty[SparkSession, SparkSession]

  private def nanosSession(s: SparkSession): SparkSession = {
    ContextCaches.evictOnStop(s.sparkContext, "nanos-sessions")(() =>
      nanosSessions.filterInPlace((p, _) => p.sparkContext ne s.sparkContext))
    nanosSessions.getOrElseUpdate(s, {
      val ns = org.apache.spark.sql.graftglue.Glue.cloneSession(s)
      ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      ns
    })
  }

  /** Infer an events parquet file's schema whatever timestamp encoding
    * it uses; returns the raw frame and whether the nanos clone read it.
    *
    * A TIMESTAMP(NANOS) file is rejected by Spark 4's schema inference
    * unless `spark.sql.legacy.parquet.nanosAsLong` is set. The plain
    * read is attempted first; the nanos branch re-reads through a
    * CLONED session carrying the conf, so the caller's session is never
    * mutated (the conf is consulted again when the physical scan builds
    * its parquet reader, so it must stay set on the session the frame
    * is bound to — a set-then-restore here would break at action time).
    * A later read of a genuinely nanos-encoded column through the
    * caller's session still fails loudly, as it should. A recorded
    * schema ([[apply]]) is read back through the session that inferred
    * it.
    */
  private def inferEvents(s: SparkSession, path: String): (DataFrame, Boolean) =
    try (s.read.parquet(path), false)
    catch {
      case e: Throwable if isNanosRejection(e) =>
        (nanosSession(s).read.parquet(path), true)
    }

  // A file with no ts column at all falls through untouched so the
  // schema contract reports the missing column with its actionable
  // message (dying here on raw.schema("ts") would bypass it).
  private def withCanonicalTs(raw: DataFrame, path: String,
      nanosRead: Boolean): DataFrame =
    if (!raw.schema.fieldNames.contains("ts")) raw
    else raw.withColumn("ts", eventsTs(raw, path, nanosRead))

  /** The single canonical events-timestamp definition: whatever physical
    * encoding `ts` arrived in, the result is a session-TZ `TimestampType`
    * column at micro resolution, so `tsUs(ts)` equals DuckDB `epoch_us(ts)`
    * on the same file. Keep all encoding dispatch here — a new driver
    * encoding should be a one-line change.
    */
  private def eventsTs(raw: DataFrame, path: String,
      nanosRead: Boolean): org.apache.spark.sql.Column =
    raw.schema("ts").dataType match {
      // nanos-as-long, ONLY on the nanosAsLong read path (the legacy
      // conf is what turned the annotated TIMESTAMP(NANOS) into a
      // long): integer floor-division to micros, the exact value
      // DuckDB's epoch_us produces (sub-µs dropped deterministically).
      case LongType if nanosRead => timestamp_micros(expr("ts div 1000"))
      // A long WITHOUT the nanos annotation is an unannotated BIGINT —
      // refusing to guess the epoch unit beats silently dividing a
      // micros value by 1000 into ~1970 timestamps.
      case LongType => throw new IllegalArgumentException(
        s"events table at $path: column 'ts' is a raw BIGINT with no " +
          "parquet timestamp annotation; refusing to guess the epoch " +
          "unit. Encode ts as TIMESTAMP, TIMESTAMP_NTZ, or " +
          "TIMESTAMP(NANOS).")
      // already micro-resolution wall-clock; session TZ is pinned UTC so
      // the NTZ→LTZ cast preserves the stored micros value.
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalArgumentException(
        s"events table at $path: column 'ts' has unsupported type " +
          s"${other.simpleString}; expected TIMESTAMP, TIMESTAMP_NTZ, " +
          "or nanos-encoded BIGINT")
    }

  private def isNanosRejection(e: Throwable): Boolean = {
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).getOrElse(""))
    msgs.exists(m => m.contains("NANOS") || m.contains("nanosAsLong"))
  }

  // ---------------------------------------------------------------------
  // Load-time schema contracts
  // ---------------------------------------------------------------------

  /** Declared contract per table: column → acceptable type simpleStrings.
    * Multiple acceptable encodings are listed where the driver has
    * legitimately varied them (events.ts) or where width is benign
    * (int vs bigint keys — both safely widen to long downstream).
    */
  private val intOrLong = Set("int", "bigint")
  private val contracts: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> intOrLong, "r_name" -> Set("string")),
    "nation" -> Seq(
      "n_nationkey" -> intOrLong, "n_name" -> Set("string"),
      "n_regionkey" -> intOrLong),
    "customer" -> Seq(
      "c_custkey" -> intOrLong, "c_name" -> Set("string"),
      "c_nationkey" -> intOrLong, "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq(
      "s_suppkey" -> intOrLong, "s_name" -> Set("string"),
      "s_nationkey" -> intOrLong, "s_acctbal" -> Set("double")),
    "part" -> Seq(
      "p_partkey" -> intOrLong, "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> intOrLong, "p_retailprice" -> Set("double")),
    "orders" -> Seq(
      "o_orderkey" -> intOrLong, "o_custkey" -> intOrLong,
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> Set("date", "timestamp", "timestamp_ntz"),
      "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq(
      "l_orderkey" -> intOrLong, "l_partkey" -> intOrLong,
      "l_suppkey" -> intOrLong, "l_linenumber" -> intOrLong,
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> Set("date", "timestamp", "timestamp_ntz")),
    "events" -> Seq(
      "event_id" -> intOrLong, "ts" -> Set("timestamp"), // post-canonicalization
      "user_id" -> intOrLong, "event_type" -> Set("string"),
      "value" -> Set("double"), "props" -> Set("string")),
    "documents" -> Seq(
      "doc_id" -> intOrLong, "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> intOrLong),
    "embeddings" -> Seq(
      "vec_id" -> intOrLong, "embedding" -> Set("array<float>", "array<double>"),
      "label" -> intOrLong))

  /** Once per file state ([[apply]] calls this only when it infers):
    * check the loaded schema against the contract and fail with one
    * actionable message on drift. Missing contract columns and type
    * mismatches are errors; extra columns are allowed (additive driver
    * changes shouldn't break reads). A failing schema is never recorded,
    * so every read of that file state fails the same way.
    */
  private[graft] def assertContract(dir: String, name: String, schema: StructType): Unit = {
    contracts.get(name).foreach { cols =>
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      cols.foreach { case (colName, accepted) =>
        byName.get(colName) match {
          case None =>
            throw new IllegalArgumentException(
              s"schema contract violation: table '$name' at $dir is missing " +
                s"column '$colName' (expected one of: ${accepted.mkString(", ")}); " +
                s"found columns: ${schema.fieldNames.mkString(", ")}")
          case Some(dt) if !accepted.contains(dt.simpleString) =>
            throw new IllegalArgumentException(
              s"schema contract violation: table '$name' at $dir column " +
                s"'$colName' has type ${dt.simpleString}; expected one of: " +
                accepted.mkString(", "))
          case _ => ()
        }
      }
    }
  }
}
