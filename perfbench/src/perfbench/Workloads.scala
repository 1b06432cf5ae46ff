package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.lake.{AddFile, BloomIndex, Cdc, ConsolidatedKeyIndex, LakeTable}

/** What one run shares between its phases. `out` collects the scalars
  * written to the result file; `problems` the failed end-of-run checks. */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: String,
    val seed: Long, val seconds: Double, var rec: Recorder) {
  /** The untraced window a traced run measures after its traced one. */
  var baseline = false
  val rng = new Random(seed)
  val out = mutable.LinkedHashMap[String, Any]()
  val problems = mutable.ArrayBuffer[String]()
  def deadlineNs: Long = windowStartNs + (seconds * 1e9).toLong
  var windowStartNs = 0L
  def open: Boolean = System.nanoTime() < deadlineNs
}

/** One workload: `prepare` builds benchmark-side state (untimed),
  * `fixture` builds the program's fixture and `warmUp` primes it (both
  * part of set-up), `measure` is the timed closed loop and `afterWindow`
  * records what it left behind, `finish` runs the untimed end-of-run
  * checks. */
trait Workload {
  def prepare(ctx: Ctx): Unit = ()
  def fixture(ctx: Ctx): Unit = ()
  def warmUp(ctx: Ctx): Unit
  def measure(ctx: Ctx): Unit
  def afterWindow(ctx: Ctx): Unit = ()
  def finish(ctx: Ctx): Unit
  /** Drops benchmark-side state so the live-heap figure is the program's. */
  def release(): Unit = ()
}

object Workloads {
  val all: Map[String, () => Workload] = Map(
    "adhoc_read" -> (() => new AdhocRead),
    "dml_commits" -> (() => new DmlCommits),
    "keyed_lookups" -> (() => new KeyedLookups))

  /** Records the warm-up ops' timings and any failure among them. */
  def keepWarmUp(ctx: Ctx, rec: Recorder): Unit = {
    rec.ops.filterNot(_.ok).foreach(o => ctx.problems += s"warm-up ${o.kind}: ${o.error}")
    ctx.out("warmup_ops") = rec.ops.map(o => Seq(o.kind, o.ms))
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def orders(ctx: Ctx): DataFrame = ctx.spark.read.parquet(s"${ctx.dataDir}/orders.parquet")

  /** Sizes of the regular files under `root` whose path relative to it
    * passes `keep`, summed. */
  def bytesUnder(root: String, keep: String => Boolean = _ => true): Long = {
    val base = Paths.get(root)
    if (!Files.exists(base)) return 0L
    val s = Files.walk(base)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(p => keep(base.relativize(p).toString))
      .map(Files.size(_)).sum
    finally s.close()
  }

  def countUnder(root: String, keep: String => Boolean): Long = {
    val base = Paths.get(root)
    if (!Files.exists(base)) return 0L
    val s = Files.walk(base)
    try s.iterator().asScala.count(p =>
      Files.isRegularFile(p) && keep(base.relativize(p).toString)).toLong
    finally s.close()
  }
}

/** Read-only catalogue entries, one per cost stratum, cold once then
  * warm in repeated seeded passes. */
final class AdhocRead extends Workload {
  import AdhocRead._

  private var sample: Seq[String] = Nil

  override def prepare(ctx: Ctx): Unit = {
    val missing = strata.flatten.filterNot(SparkEntry.oracleSql.contains)
    require(missing.isEmpty, s"pool entries without an oracle: ${missing.mkString(",")}")
    sample = strata.map(s => s(ctx.rng.nextInt(s.size)))
    ctx.out("sample") = sample
  }

  // the same JVM warm-up graft.Bench does before its timed region
  def warmUp(ctx: Ctx): Unit =
    Workloads.noop(SparkEntry.queries("q1_pricing_summary")(ctx.spark, ctx.dataDir))

  private def query(ctx: Ctx, kind: String, name: String): Unit =
    ctx.rec.run(kind, name) { r =>
      val df = r.phase("construct")(SparkEntry.queries(name)(ctx.spark, ctx.dataDir))
      r.phase("execute")(Workloads.noop(df))
    }(_ => None)

  def measure(ctx: Ctx): Unit = {
    // the cold pass precedes the window: each entry's first execution
    if (!ctx.baseline) ctx.rng.shuffle(sample).foreach(query(ctx, "cold", _))
    ctx.windowStartNs = System.nanoTime()
    // whole passes over the sample, each in a seeded order
    while (ctx.open) ctx.rng.shuffle(sample).foreach(query(ctx, "warm", _))
  }

  /** Writes each sampled entry's output and oracle SQL in the layout
    * tools/selfcheck.py compares (as graft.Verify writes them). */
  def finish(ctx: Ctx): Unit = {
    val dir = s"${ctx.workDir}/check"
    Files.createDirectories(Paths.get(dir))
    ctx.spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    sample.foreach { n =>
      try SparkEntry.queries(n)(ctx.spark, ctx.dataDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$n")
      catch { case e: Exception => ctx.problems += s"$n: check run threw $e" }
    }
    val oracle = sample.map(n => n -> SparkEntry.oracleSql(n)).toMap
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json.render(oracle))
    ctx.out("check_dir") = dir
  }
}

object AdhocRead {
  /** The pool: read-only entries of the TPC-H, window, text, dedup,
    * similarity and temporal families (no `lake*`, `d14`, `d14p`: they
    * create tables; not the approximate `d3`, `d4`, `d6`, `sim2`, `sim3`,
    * which have no oracle; not `d2`, `d3v`, `d4v`, `d8`, `d10`, `rep1`,
    * whose DuckDB oracle alone takes 5-90 s at sf0.1). Grouped into strata of similar warm latency, as
    * measured once at sf0.1 on 4 cores; the seed draws one entry per
    * stratum, so every sample has the same cost profile. */
  val strata: Seq[Seq[String]] = Seq(
    Seq("t4_fingerprint", "t2_lang_id", "split1_holdout", "t1_token_stats", "bal1_cap_stratum",
      "t9_pii_redaction"),
    Seq("mix2_shard_shuffle", "d1_exact_dedup", "d5_embedding_dups", "t8_sequence_packing",
      "w4_rank_suppliers", "sim1_cosine_topk"),
    Seq("q19_bracket_revenue", "q6_forecast_revenue", "t5_quality_by_lang", "q17_small_quantity",
      "rj1_range_join", "q14_promo_share"),
    Seq("t3_quality_score", "w1_topn_per_customer", "sim2v_ivf_fullprobe", "q15_top_supplier",
      "q16_part_supplier_counts", "chunk1_doc_chunks", "q22_wealthy_inactive"),
    Seq("d12_paragraph_dedup", "mix1_dataset_mixture", "q13_customer_distribution",
      "t6_curation_pipeline", "q12_priority_by_flag", "q20_dominant_suppliers"),
    Seq("q11_important_parts", "w5_bounded_frames", "aj1_asof_join", "w3_lag_lead",
      "d9_bloom_new_docs", "sim3v_pq_fullrefine"),
    Seq("d6v_embedding_lsh_verified", "d13_substring_dedup", "q9_profit_by_nation",
      "q2_min_cost_supplier", "d11_semantic_dedup", "t7_bm25_search"),
    Seq("q4_order_priority", "q8_market_share", "d7_dedup_components", "q7_volume_shipping",
      "q10_returned_items", "q21_waiting_suppliers", "w2_running_sum"))
}

/** Shared by the two table workloads: the orders schema, the model and
  * the per-op fresh table handle. */
abstract class TableWorkload extends Workload {
  protected var spark: SparkSession = _
  protected var path: String = _
  protected var schema: StructType = _
  protected var templates: IndexedSeq[Row] = _
  protected val model = new Model(0)
  protected lazy val priceIdx = schema.fieldIndex("o_totalprice")
  protected lazy val statusIdx = schema.fieldIndex("o_orderstatus")
  private var userBytes = 0L
  private var bytesBefore = 0L
  private var logBefore = 0L
  private var checkpointsBefore = 0L
  private val isLog = (p: String) => p.startsWith("_lake_log")
  private def checkpoints: Long =
    Workloads.countUnder(path, p => isLog(p) && p.contains(".checkpoint."))

  protected def submitted(rows: Seq[Row]): Unit = userBytes += rows.map(Model.userBytes).sum

  /** Opens the timed window, noting the table's size. */
  protected def openWindow(ctx: Ctx): Unit = {
    bytesBefore = Workloads.bytesUnder(path)
    logBefore = Workloads.bytesUnder(path, isLog)
    checkpointsBefore = checkpoints
    userBytes = 0L
    ctx.windowStartNs = System.nanoTime()
  }

  /** What the window (and its drain) added under the table root. */
  override def afterWindow(ctx: Ctx): Unit = if (!ctx.baseline) {
    ctx.out("user_bytes") = userBytes
    ctx.out("bytes_added") = Workloads.bytesUnder(path) - bytesBefore
    ctx.out("log_bytes_added") = Workloads.bytesUnder(path, isLog) - logBefore
    ctx.out("checkpoints_added") = checkpoints - checkpointsBefore
  }

  /** Orders rows this workload's table starts with. */
  protected def initial(orders: DataFrame): DataFrame

  override def prepare(ctx: Ctx): Unit = {
    val orders = Workloads.orders(ctx)
    require(orders.schema.fieldNames.head == "o_orderkey", "orders must lead with o_orderkey")
    spark = ctx.spark
    schema = orders.schema
    val rows = initial(orders).collect()
    rows.foreach(model.put)
    templates = rows.toIndexedSeq
  }

  /** A fresh handle, resolved to the latest version, as a new client
    * opening the table would get. */
  protected def resolve(r: OpRecord): LakeTable = r.phase("resolve") {
    val t = LakeTable.forPath(spark, path)
    t.snapshot
    t
  }

  protected def price(rng: Random): Double = math.round(rng.nextDouble() * 5e7) / 100.0

  /** A new row version for `key`: a seeded template's other columns. */
  protected def row(rng: Random, key: Long, status: String): Row = {
    val v = templates(rng.nextInt(templates.size)).toSeq.toArray
    v(0) = key
    v(priceIdx) = price(rng)
    v(statusIdx) = status
    Row.fromSeq(v.toSeq)
  }

  protected def frame(ctx: Ctx, rows: Seq[Row]): DataFrame =
    ctx.spark.createDataFrame(rows.asJava, schema)

  private def files(ctx: Ctx): Map[String, AddFile] =
    LakeTable.forPath(ctx.spark, path).snapshot.files.map(f => f.path -> f).toMap

  /** A write op. Traced runs also diff the snapshots around it
    * (outside the op's timing) for the write-layer counts. */
  protected def write(ctx: Ctx, rec: Recorder, kind: String)(body: (OpRecord, LakeTable) => Any)(
      check: Any => Option[String]): Boolean = {
    val before = if (rec.tracer.isDefined) files(ctx) else null
    val ok = rec.run(kind) { r => body(r, resolve(r)) }(check).isDefined
    if (before != null) {
      val after = files(ctx)
      val added = after.keySet -- before.keySet
      val removed = before.keySet -- after.keySet
      val x = rec.ops.last.extra
      x("files_added") = added.size
      x("files_removed") = removed.size
      x("bytes_rewritten") = removed.toSeq.map(before(_).size).sum.toDouble
      x("bloom_bytes") = added.toSeq.flatMap(after(_).bloomPath).map { p =>
        val f = Paths.get(path).resolve(p)
        if (Files.exists(f)) Files.size(f).toDouble else 0.0
      }.sum
    }
    ok
  }

  override def release(): Unit = {
    model.rows.clear()
    templates = null
  }

  /** At the end: the table's size figures and the full-content check
    * against the model. */
  def finish(ctx: Ctx): Unit = {
    val t = LakeTable.forPath(ctx.spark, path)
    val snap = t.snapshot
    ctx.out("table_bytes") = Workloads.bytesUnder(path)
    ctx.out("snapshot_bytes") = snap.sizeInBytes
    ctx.out("live_files") = snap.numFiles
    ctx.out("dv_files") = snap.files.count(f => f.dvPath.isDefined || f.dvInline.isDefined)
    ctx.out("version") = snap.version
    model.checkTable(t.read().collect().toSeq).foreach(ctx.problems += _)
  }
}

/** A pipeline writer on a change-data-feed silver table: appends of new
  * keys, merge upserts, DV deletes and updates, and a compaction every
  * five commits ([[DmlCommits.Cycle]]). */
final class DmlCommits extends TableWorkload {
  import DmlCommits._
  private var nextKey = 0L
  private var initialKeys = 0L

  protected def initial(orders: DataFrame): DataFrame = orders

  override def prepare(ctx: Ctx): Unit = {
    super.prepare(ctx)
    nextKey = model.rows.keysIterator.max + 1
    initialKeys = nextKey
  }

  override def fixture(ctx: Ctx): Unit = {
    path = s"${ctx.workDir}/silver"
    LakeTable.create(ctx.spark, path,
      Workloads.orders(ctx).repartitionByRange(8, col("o_orderkey")),
      properties = Map(Cdc.PROP -> "true", BloomIndex.COLS_PROP -> "o_orderkey"))
  }

  private def liveKey(rng: Random): Long = {
    var k = -1L
    while (k < 0 || !model.rows.contains(k)) k = (rng.nextDouble() * nextKey).toLong
    k
  }

  private def append(ctx: Ctx, rec: Recorder, n: Int): Unit = {
    val rows = (0 until n).map(i => row(ctx.rng, nextKey + i, "O"))
    if (write(ctx, rec, "append") { (r, t) =>
        val df = r.phase("construct")(frame(ctx, rows))
        r.phase("execute")(t.append(df))
      }(_ => None)) {
      rows.foreach(model.put)
      submitted(rows)
    }
    nextKey += n
  }

  /** Upserts `updates` live keys and inserts `inserts` new ones. */
  private def merge(ctx: Ctx, rec: Recorder, updates: Int, inserts: Int): Unit = {
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < updates) keys += liveKey(ctx.rng)
    val rows = keys.toSeq.map(row(ctx.rng, _, "M")) ++
      (0 until inserts).map(i => row(ctx.rng, nextKey + i, "M"))
    val ok = write(ctx, rec, "merge") { (r, t) =>
      val df = r.phase("construct")(frame(ctx, rows))
      r.phase("execute")(t.merge(df, expr("t.o_orderkey = s.o_orderkey")))
    }(_ => None)
    if (ok) {
      rows.foreach(model.put)
      submitted(rows)
    }
    nextKey += inserts
  }

  /** A key range inside the table's initial keys: every delete and
    * update then lands in the same, compacted, part of the table. */
  private def range(ctx: Ctx, width: Int): (Long, Long) = {
    val lo = (ctx.rng.nextDouble() * (initialKeys - width)).toLong
    (lo, lo + width)
  }

  private def delete(ctx: Ctx, rec: Recorder, width: Int): Unit = {
    val (lo, hi) = range(ctx, width)
    val hit = (lo until hi).filter(model.rows.contains)
    if (write(ctx, rec, "delete") { (r, t) =>
        r.phase("execute")(t.delete(col("o_orderkey") >= lo && col("o_orderkey") < hi)) } {
        case n: Long if n == hit.size => None
        case n => Some(s"delete removed $n rows, model expects ${hit.size}")
      }) hit.foreach(model.remove)
  }

  private def update(ctx: Ctx, rec: Recorder, width: Int): Unit = {
    val (lo, hi) = range(ctx, width)
    val ok = write(ctx, rec, "update") { (r, t) =>
      r.phase("execute")(t.update(col("o_orderkey") >= lo && col("o_orderkey") < hi,
        Map("o_totalprice" -> (col("o_totalprice") + 1.0), "o_orderstatus" -> lit("U"))))
    }(_ => None)
    if (ok) (lo until hi).flatMap(model.rows.get).foreach { old =>
      val v = old.toSeq.toArray
      v(priceIdx) = old.getDouble(priceIdx) + 1.0
      v(statusIdx) = "U"
      val r = Row.fromSeq(v.toSeq)
      model.put(r)
      submitted(Seq(r))
    }
  }

  private def compact(ctx: Ctx, rec: Recorder): Unit =
    write(ctx, rec, "compact") { (r, t) => r.phase("execute")(t.compact()) }(_ => None)

  private def commit(ctx: Ctx, rec: Recorder, kind: String, scale: Int): Unit = kind match {
    case "append" => append(ctx, rec, AppendRows / scale)
    case "merge" => merge(ctx, rec, MergeUpdates / scale, MergeInserts / scale)
    case "delete" => delete(ctx, rec, RangeKeys / scale)
    case "update" => update(ctx, rec, RangeKeys / scale)
  }

  // one of each at a tenth of the size: primes every commit path
  def warmUp(ctx: Ctx): Unit = {
    val rec = new Recorder(ctx.spark, None)
    Cycle.distinct.foreach(commit(ctx, rec, _, 10))
    compact(ctx, rec)
    Workloads.keepWarmUp(ctx, rec)
    Maintenance.drain(ctx.spark)
  }

  /** Whole cycles — [[Cycle]]'s commits in a seeded order, then a
    * compaction — until the window has passed. */
  def measure(ctx: Ctx): Unit = {
    openWindow(ctx)
    while (ctx.open) {
      ctx.rng.shuffle(Cycle).foreach(commit(ctx, ctx.rec, _, 1))
      compact(ctx, ctx.rec)
    }
  }
}

object DmlCommits {
  val AppendRows = 1000
  val MergeUpdates = 1350
  val MergeInserts = 150
  val RangeKeys = 300
  /** The commits between two compactions. */
  val Cycle: Seq[String] = Seq("append", "append", "merge", "delete", "update")
}

/** A serving table keyed by o_orderkey, unclustered over many small
  * files, with the bloom and consolidated key indexes: Zipf-skewed
  * lookups of 1-16 keys beside small merge upserts. */
final class KeyedLookups extends TableWorkload {
  import KeyedLookups._
  private var ranked: Array[Long] = _
  private var cdf: Array[Double] = _
  private var heldOut: IndexedSeq[Row] = _

  // one key in ten (o_orderkey % 10 == 7) starts absent: lookups probe
  // for them inside the key range, upserts insert them
  protected def initial(orders: DataFrame): DataFrame = orders.where(col("o_orderkey") % 10 =!= 7)

  override def prepare(ctx: Ctx): Unit = {
    super.prepare(ctx)
    heldOut = Workloads.orders(ctx).where(col("o_orderkey") % 10 === 7).collect().toIndexedSeq
    // sorted first, so the Zipf ranking depends on the seed alone
    ranked = ctx.rng.shuffle(model.rows.keys.toIndexedSeq.sorted).toArray
    val w = (1 to ranked.length).map(i => 1.0 / math.pow(i, ZipfS))
    val total = w.sum
    cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  override def fixture(ctx: Ctx): Unit = {
    path = s"${ctx.workDir}/serving"
    val t = LakeTable.create(ctx.spark, path,
      initial(Workloads.orders(ctx)).repartition(FileCount),
      properties = Map(BloomIndex.COLS_PROP -> "o_orderkey",
        ConsolidatedKeyIndex.MIN_FILES_PROP -> "1"))
    t.checkpoint() // publishes the consolidated key index
    Maintenance.drain(ctx.spark)
  }

  private def zipfKey(rng: Random): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    ranked(math.min(if (i >= 0) i else -i - 1, ranked.length - 1))
  }

  private def absentKey(rng: Random): Long = heldOut(rng.nextInt(heldOut.size)).getLong(0)

  private def lookup(ctx: Ctx, rec: Recorder): Unit = {
    val keys = Seq.fill(1 + ctx.rng.nextInt(MaxKeys)) {
      if (ctx.rng.nextDouble() < AbsentShare) absentKey(ctx.rng) else zipfKey(ctx.rng)
    }
    rec.run("lookup") { r =>
      val t = resolve(r)
      val df = r.phase("construct")(t.read(col("o_orderkey").isin(keys: _*)))
      (t, df, r.phase("execute")(df.collect().toSeq))
    } { case (_, _, rows) => model.checkLookup(keys, rows) }.foreach { case (t, df, rows) =>
      if (rec.tracer.isDefined) {
        val x = rec.ops.last.extra
        x("files_total") = t.snapshot.numFiles.toDouble
        x("files_scanned") = df.inputFiles.length.toDouble
        x("rows_returned") = rows.size.toDouble
      }
    }
  }

  private def upsert(ctx: Ctx, rec: Recorder): Unit = {
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < UpsertUpdates) keys += zipfKey(ctx.rng)
    val fresh = Seq.fill(UpsertInserts)(absentKey(ctx.rng)).distinct
      .filterNot(k => keys.contains(k))
    val rows = (keys.toSeq ++ fresh).map(row(ctx.rng, _, "M"))
    if (write(ctx, rec, "upsert") { (r, t) =>
        val df = r.phase("construct")(frame(ctx, rows))
        r.phase("execute")(t.merge(df, expr("t.o_orderkey = s.o_orderkey")))
      }(_ => None)) {
      rows.foreach(model.put)
      submitted(rows)
    }
  }

  def warmUp(ctx: Ctx): Unit = {
    val rec = new Recorder(ctx.spark, None)
    (1 to 8).foreach(_ => lookup(ctx, rec))
    upsert(ctx, rec)
    (1 to 2).foreach(_ => lookup(ctx, rec))
    Workloads.keepWarmUp(ctx, rec)
    Maintenance.drain(ctx.spark)
  }

  def measure(ctx: Ctx): Unit = {
    openWindow(ctx)
    // whole cycles of CycleOps ops, one of them an upsert at a seeded place
    while (ctx.open) {
      val at = ctx.rng.nextInt(CycleOps)
      (0 until CycleOps).foreach(i => if (i == at) upsert(ctx, ctx.rec) else lookup(ctx, ctx.rec))
    }
  }

  override def release(): Unit = {
    super.release()
    ranked = null
    cdf = null
    heldOut = null
  }
}

object KeyedLookups {
  val FileCount = 64
  val MaxKeys = 16
  val AbsentShare = 0.1
  val CycleOps = 10
  val UpsertUpdates = 16
  val UpsertInserts = 4
  val ZipfS = 1.1
}
