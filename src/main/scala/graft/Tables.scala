package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** Loader for the driver's parquet tables (see TESTDATA.md / FIXTURES.md).
  *
  * Every read is a plain parquet `LogicalRelation`, so Catalyst's parquet
  * source handles column pruning and predicate pushdown — every query
  * should show its filters in `PushedFilters` and only the referenced
  * columns in `ReadSchema`.
  *
  * Each table is resolved once per session: the first read of a table
  * lists its files and infers its schema (a one-task Spark job), and
  * keeps the resolved relation; later reads wrap that same relation in
  * a fresh `LogicalRelation` (fresh attribute ids, so a plan that reads
  * one table twice behaves exactly as two independent reads). See
  * [[Tables.relation]] for the cache contract.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame =
    spark.baseRelationToDataFrame(Tables.relation(spark, s"$dir/$name.parquet"))

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  /** The events table as stored: `ts` in whatever physical type the
    * generator wrote (long for legacy TIMESTAMP(NANOS), which Spark 4
    * refuses to read as a timestamp without the legacy conf). Only
    * schema probes want this; queries read [[events]].
    */
  def eventsPhysical: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    table("events")
  }
  /** `events.ts` has changed physical type across driver data
    * generations — TIMESTAMP(NANOS) (read as long, see
    * [[eventsPhysical]]) and plain timestamp[us] with
    * isAdjustedToUTC=false (which Spark 4 infers as TIMESTAMP_NTZ).
    * Normalize every generation to a session-zone microsecond
    * TimestampType so downstream windows/watermarks/joins see one type.
    */
  def events: DataFrame = Tables.normalizeTs(eventsPhysical)
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** A table path under the session settings its schema depends on. */
  private final case class Key(path: String, settings: Map[String, String])

  /** A resolved relation and the (path, length, mtime) of every file
    * under the table path, taken just before it was resolved. */
  private final class Entry(val files: Vector[(String, Long, Long)],
      val relation: BaseRelation)

  private val bySession =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[Key, Entry]]()
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** The resolved parquet relation of the table at `path`, from this
    * session's cache.
    *
    *   - What is cached: the `HadoopFsRelation` that `spark.read.parquet`
    *     resolves — the file listing and the inferred schema, no data.
    *     A miss resolves it with `spark.read.parquet`, the only read
    *     path here.
    *   - Key: the session, the qualified path, and the session's
    *     `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` settings
    *     (they change the inferred schema: `nanosAsLong` turns
    *     TIMESTAMP(NANOS) into a long).
    *   - Fingerprint: every call re-stats the files under the path
    *     (path, length, mtime — one `getFileStatus`, plus a `listStatus`
    *     per directory). Any difference resolves the table again, so a
    *     file rewritten in place is never served stale. The stat is
    *     taken before resolving, so a change racing the resolve shows
    *     up as a difference on the next call.
    *   - Lifetime: entries belong to one session object. A relation
    *     holds its session, so the map holds the session until the
    *     session's application ends; a listener on its SparkContext
    *     then drops them. `newSession()` and a rebuilt session start
    *     empty.
    *   - `GraftSession.dropAllBlocks` leaves the cache alone: it frees
    *     data blocks between queries, and a relation holds no data —
    *     only the metadata every query would resolve again.
    */
  private[graft] def relation(spark: SparkSession, path: String): BaseRelation = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val files = try leafFiles(fs, qualified)
      catch { case _: java.io.FileNotFoundException => Vector.empty }
    // a missing path resolves (and fails) the way Spark reports it
    if (files.isEmpty) resolve(spark, path)
    else {
      val key = Key(qualified.toString, parquetSettings(spark))
      val entries = sessionEntries(spark)
      val hit = entries.get(key)
      if (hit != null && hit.files == files) hit.relation
      else {
        val rel = resolve(spark, path)
        entries.put(key, new Entry(files, rel))
        rel
      }
    }
  }

  private def resolve(spark: SparkSession, path: String): BaseRelation =
    spark.read.parquet(path).queryExecution.analyzed match {
      case lr: LogicalRelation => lr.relation
      case other => throw new IllegalStateException(
        s"parquet read of $path planned as ${other.nodeName}, not a LogicalRelation")
    }

  private def leafFiles(fs: FileSystem, p: Path): Vector[(String, Long, Long)] = {
    def stat(s: FileStatus): Vector[(String, Long, Long)] =
      if (s.isDirectory)
        fs.listStatus(s.getPath).sortBy(_.getPath.toString).toVector.flatMap(stat)
      else Vector((s.getPath.toString, s.getLen, s.getModificationTime))
    stat(fs.getFileStatus(p))
  }

  private def parquetSettings(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  private def sessionEntries(spark: SparkSession): ConcurrentHashMap[Key, Entry] = {
    val sc = spark.sparkContext
    watched.synchronized {
      if (watched.add(sc)) sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          bySession.keySet.removeIf(_.sparkContext eq sc)
          ()
        }
      })
    }
    bySession.computeIfAbsent(spark, _ => new ConcurrentHashMap[Key, Entry]())
  }

  /** Qualified paths cached for `spark` (empty once its application has
    * ended). */
  private[graft] def cachedPaths(spark: SparkSession): Set[String] =
    Option(bySession.get(spark)).fold(Set.empty[String]) { m =>
      import scala.jdk.CollectionConverters._
      m.keySet.asScala.map(_.path).toSet
    }

  /** Epoch-nanos long column → microsecond timestamp. MUST be the SQL
    * integral `div`: Column `/` promotes longs to double, and epoch
    * nanos (~1.7e18) exceed double's 2^53 exact range (ulp = 256 ns
    * there), which corrupts a large fraction of timestamps by 1 µs
    * after truncation.
    */
  def nanosToMicrosTimestamp(colName: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"timestamp_micros($colName div 1000)")

  /** Schema-adaptive `ts` normalization: whatever physical type the
    * driver's current generator emitted, the engine sees a session-zone
    * microsecond TimestampType.
    *   - LongType: legacy TIMESTAMP(NANOS) read via nanosAsLong →
    *     integral div to micros.
    *   - TIMESTAMP_NTZ (timestamp[us], isAdjustedToUTC=false): cast to
    *     TimestampType — identity on the stored micros because the
    *     session time zone is pinned to UTC (GraftSession).
    *   - TimestampType: already normalized.
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", nanosToMicrosTimestamp("ts"))
    case TimestampNTZType =>
      df.withColumn("ts", df("ts").cast(TimestampType))
    case TimestampType => df
    case other => throw new IllegalStateException(
      s"events.ts has unsupported type $other — extend Tables.normalizeTs")
  }
}
