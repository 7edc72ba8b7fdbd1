package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.IndexCache
import graft.analytics.{GoldQueries, LakeQueries, QueryDef, Relational}
import graft.dedup.DedupQueries
import graft.gen.FixtureGen
import graft.io.Zones
import graft.ml.MlQueries
import graft.pipeline.{CorpusCurate, Runner}
import graft.similarity.SimilarityQueries
import graft.streaming.{StreamingBronze, StreamingDocIngest}
import graft.text.{TextQueries, TextSignals, UnigramLm}

/** One measured operation. `check` carries the output facts the Python
  * front end compares against the expected values; `items` is the unit of
  * work the operation completed (queries, raw rows, documents, rows). */
final case class Op(kind: String, name: String, wallS: Double, traced: Boolean,
    error: Option[String], check: Seq[(String, String)], items: Long,
    warmup: Boolean = false) {
  def json: String = Json.obj(Seq("kind" -> Json.str(kind), "name" -> Json.str(name),
    "wall_s" -> Json.num(wallS),
    "traced" -> traced.toString, "warmup" -> warmup.toString,
    "error" -> error.fold("null")(Json.str),
    "check" -> Json.obj(check), "items" -> items.toString))
}

final case class Measured(ops: Seq[Op], layers: Seq[(String, Double)])

/** A workload: inputs from the seed (untimed), program-side set-up (timed
  * as setup_s), then a closed loop of operations by one client. */
trait Workload {
  def generate(in: String, seed: Long): Unit
  def prepare(spark: SparkSession, in: String, seed: Long, cycle: Int): Unit
  def measure(spark: SparkSession, in: String, seed: Long, seconds: Double,
      trace: Boolean): Measured
}

object Workload {
  val all: Map[String, Workload] = Map("catalog" -> Catalog, "lake_etl" -> LakeEtl)

  def errorOf(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").take(300)}"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Spark-engine per-layer metrics, per traced operation. */
  def engineLayers(c: EngineCounts, ops: Int, wallS: Double,
      peakPinnedMb: Double): Seq[(String, Double)] = {
    val n = math.max(ops, 1).toDouble
    Seq(
      "spark.jobs" -> c.jobs / n,
      "spark.tasks" -> c.tasks / n,
      "spark.task_cpu_s" -> c.cpuNs / 1e9 / n,
      "spark.cpu_util" -> (if (wallS > 0) c.cpuNs / 1e9 / (wallS * Main.Cores) else 0.0),
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6 / n,
      "spark.spill_mb" -> c.spillBytes / 1e6 / n,
      "spark.gc_s" -> c.gcMs / 1e3 / n,
      "spark.peak_pinned_mb" -> peakPinnedMb)
  }

  /** Bytes and data files (names not starting with `.` or `_`) under `dir`. */
  def du(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else if (dir.isFile) (dir.length, if (dir.getName.startsWith(".") ||
      dir.getName.startsWith("_")) 0L else 1L)
    else Option(dir.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

}

/** `catalog`: passes over a fixed slice of `QueryCatalog`, in an order
  * the seed permutes, against the committed sf0.01 tables. Every query is
  * build + plan + full materialization (noop sink) with caches cleared in
  * between, as `graft.Bench` does. */
object Catalog extends Workload {
  val Families: Seq[(String, Seq[QueryDef])] = Seq(
    "analytics.relational" -> Relational.defs, "text.queries" -> TextQueries.defs,
    "text.unigram_lm" -> UnigramLm.defs, "dedup.queries" -> DedupQueries.defs,
    "similarity.queries" -> SimilarityQueries.defs, "analytics.gold" -> GoldQueries.defs,
    "ml.queries" -> MlQueries.defs, "analytics.lake" -> LakeQueries.defs)

  /** Every `Stride`-th query of each family, in catalog order. */
  val Stride = 48
  val MinPasses = 2
  def slice: Seq[(String, QueryDef)] = Families.flatMap { case (f, defs) =>
    defs.zipWithIndex.collect { case (d, i) if i % Stride == 0 => (f, d) }
  }

  def sfDir(in: String): String = new File(s"${Main.benchDir}/data/sf0.01").getAbsolutePath

  def generate(in: String, seed: Long): Unit = {
    Inputs.writeLines(s"$in/order.txt", Inputs.order(slice, seed).iterator.map(_._2.name))
    CurateProbe.generate(in, seed)
  }

  def prepare(spark: SparkSession, in: String, seed: Long, cycle: Int): Unit = {
    val sf = sfDir(in)
    IndexCache.ensure(spark, sf)
    IndexCache.ensureZLayout(spark, sf)
    IndexCache.ensureDedupPairs(spark, sf)
    IndexCache.ensureSetSim(spark, sf)
    IndexCache.ensureJpegCorpus(spark, sf)
    IndexCache.ensureWarcFixture(spark, sf)
    IndexCache.ensureWarcGzFixture(spark, sf)
    IndexCache.ensureSubstrIndex(spark, sf)
    graft.ml.ModelStore.ensureLogReg(spark, sf)
    spark.catalog.clearCache()
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  final case class Timed(op: Op, buildS: Double, planS: Double, execS: Double,
      counts: EngineCounts, pinnedMb: Double)

  /** Runs one query. The output check rides the same execution as an
    * `observe` of the row count and an order-independent content hash
    * (sums of the low and high halves of each row's xxhash64). */
  def runQuery(spark: SparkSession, q: QueryDef, sf: String, traced: Boolean): Timed = {
    spark.catalog.clearCache()
    var build, plan = 0.0
    val obs = new Observation()
    val res = scala.util.Try(Trace.around(spark.sparkContext, traced) {
      val t0 = System.nanoTime()
      val raw = q.fn(spark, sf)
      val df = raw.toDF(raw.columns.indices.map(i => s"c$i"): _*)
      val cols = df.schema.fields.toSeq.map(f =>
        if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
      val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
      val observed = df.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
      val t1 = System.nanoTime()
      build = (t1 - t0) / 1e9
      if (traced) {
        observed.queryExecution.executedPlan
        plan = (System.nanoTime() - t1) / 1e9
      }
      observed.write.mode("overwrite").format("noop").save()
    })
    res match {
      case scala.util.Success((_, wall, counts)) =>
        val m = obs.get
        val hash = f"${m("hi").asInstanceOf[Long]}%016x${m("lo").asInstanceOf[Long]}%016x"
        val pinned = if (traced) Trace.pinnedMb(spark.sparkContext) else 0.0
        Timed(Op("query", q.name, wall, traced, None, Seq("rows" -> m("n").toString,
          "hash" -> Json.str(hash)), 1L), build, plan, wall - build - plan, counts, pinned)
      case scala.util.Failure(e) =>
        Timed(Op("query", q.name, 0.0, traced, Some(Workload.errorOf(e)), Nil, 1L),
          0, 0, 0, EngineCounts.zero, 0)
    }
  }

  def measure(spark: SparkSession, in: String, seed: Long, seconds: Double,
      trace: Boolean): Measured = {
    val sf = sfDir(in)
    val byName = slice.map { case (f, d) => d.name -> (f, d) }.toMap
    val order = scala.io.Source.fromFile(s"$in/order.txt").getLines().toSeq.map(byName)
    // A checked, untimed warm-up pass first: in a fresh JVM the first
    // execution of each query pays JIT and code generation. It runs in
    // catalog order, so that the JIT state the timed passes start from does
    // not depend on the seed.
    val warm = slice.map { case (_, q) => runQuery(spark, q, sf, traced = false).op.copy(warmup = true) }
    if (!trace) {
      // Timed passes until `seconds` have passed and at least `MinPasses`
      // ran; the metrics take each query's median over the passes.
      val passes = ArrayBuffer.empty[Seq[Op]]
      val t0 = System.nanoTime()
      while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds)
        passes += order.map { case (_, q) => runQuery(spark, q, sf, traced = false).op }
      spark.catalog.clearCache()
      return Measured(warm ++ passes.flatten, Nil)
    }
    // Traced: one pass, each query once each way, in alternating order.
    val runs = order.zipWithIndex.flatMap { case ((fam, q), i) =>
      val sides = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      sides.map(t => (fam, runQuery(spark, q, sf, t)))
    }
    spark.catalog.clearCache()
    val ops = warm ++ runs.map(_._2.op)
    val traced = runs.filter(_._2.op.traced)
    val tr = traced.map(_._2)
    val counts = tr.map(_.counts).foldLeft(EngineCounts.zero)(_ + _)
    val tracedWall = tr.map(_.op.wallS).sum
    val families = Families.map(_._1).flatMap { f =>
      val fr = traced.filter(_._1 == f).map(_._2)
      Seq(s"${f}_s" -> fr.map(_.op.wallS).sum, s"${f}_jobs" -> fr.map(_.counts.jobs).sum.toDouble)
    }
    val untracedWall = runs.filterNot(_._2.op.traced).map(_._2.op.wallS).sum
    val curate = CurateProbe.run(spark, in)
    Measured(ops ++ curate.ops, curate.layers ++ Workload.engineLayers(counts, tr.size, tracedWall,
      tr.map(_.pinnedMb).foldLeft(0.0)(math.max)) ++ Seq(
      "catalog.pass_s" -> untracedWall,
      "catalog.build_s" -> tr.map(_.buildS).sum,
      "catalog.plan_s" -> tr.map(_.planS).sum,
      "catalog.exec_s" -> tr.map(_.execS).sum,
      "catalog.jobs_per_query" -> counts.jobs.toDouble / math.max(tr.size, 1),
      "trace.overhead_ratio" -> tracedWall / untracedWall) ++ families)
  }
}

/** `lake_etl`: `Runner.run(mode = "overwrite")` from the seeded raw CSV into
  * a fresh lake root each repetition. */
object LakeEtl extends Workload {
  val RunDate = "2025-08-04"
  val Stages = Seq("bronze", "silver", "audit", "audit_summary", "gold")

  def generate(in: String, seed: Long): Unit = {
    Inputs.payments(s"$in/raw", seed % Inputs.Variants)
    StreamProbe.generate(in, seed)
  }

  /** Set-up writes the raw zone with the program's own `FixtureGen`, then
    * runs the pipeline once over a small lake (4 days x 500 rows): the
    * start-up a scheduled job pays, and it leaves the JIT and Spark's code
    * generation warm for the measured runs. */
  def prepare(spark: SparkSession, in: String, seed: Long, cycle: Int): Unit = {
    Inputs.payments(s"$in/raw", seed % Inputs.Variants)
    val warm = new File(s"$in/warm_$cycle").getAbsolutePath
    FixtureGen.generate(s"$warm/raw", FixtureGen.Config(days = Inputs.EtlDays,
      rowsPerDay = 500, seed = seed))
    Runner.run(spark, Zones(warm), mode = "overwrite", runDate = RunDate)
  }

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(f => copyTree(f, new File(to, f.getName)))
    } else Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)

  def measure(spark: SparkSession, in: String, seed: Long, seconds: Double,
      trace: Boolean): Measured = {
    val rawBytes = Workload.du(new File(s"$in/raw"))._1
    val stageS = ArrayBuffer.empty[Map[String, Double]]
    val io = ArrayBuffer.empty[Map[String, Double]]
    var counts = EngineCounts.zero
    var peak = 0.0
    // Repetitions until `seconds` have passed and at least 4 (5 traced) ran.
    // The first is a checked warm-up: it runs about 40% slower than the
    // rest, as the set-up's small lake leaves the JIT short of warm.
    val minOps = if (trace) 5 else 4
    val ops = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while (ops.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val k = ops.size
      // After the warm-up, traced runs go untraced, traced,
      // traced, untraced (and again), so a drift lands evenly on both sides.
      val traced = trace && (k % 4 == 2 || k % 4 == 3)
      val root = new File(s"$in/lake_$k").getAbsolutePath
      copyTree(new File(s"$in/raw"), new File(s"$root/raw"))
      spark.catalog.clearCache()
      ops += (scala.util.Try(Trace.around(spark.sparkContext, traced) {
        Runner.run(spark, Zones(root), mode = "overwrite", runDate = RunDate)
      }) match {
        case scala.util.Success((r, wall, c)) =>
          if (traced) {
            counts += c
            peak = math.max(peak, Trace.pinnedMb(spark.sparkContext))
            val st = Stages.map(s => s -> stageSeconds(s"$root/jobstatus/${s}_$RunDate.json")).toMap
            stageS += st + ("result_counts" -> (wall - st.values.sum))
            val z = Zones(root)
            val sizes = Seq("bronze" -> z.bronze, "silver" -> z.silver,
              "audit" -> s"$root/audit", "gold" -> z.gold).map { case (n, p) => n -> Workload.du(new File(p)) }
            io += sizes.map { case (n, (b, _)) => s"io.${n}_mb" -> b / 1e6 }.toMap ++ Map(
              "io.files_written" -> sizes.map(_._2._2).sum.toDouble,
              "io.bytes_per_raw_byte" -> sizes.map(_._2._1).sum.toDouble / rawBytes)
          }
          Op("etl", s"run_$k", wall, traced, None, Seq("raw_rows" -> r.rawRows.toString,
            "bronze_rows" -> r.bronzeRows.toString, "silver_rows" -> r.silverRows.toString,
            "invalid_rows" -> r.invalidRows.toString, "dq_summary" -> Json.str(r.dqSummaryJson)),
            r.rawRows, warmup = k == 0)
        case scala.util.Failure(e) =>
          Op("etl", s"run_$k", 0.0, traced, Some(Workload.errorOf(e)), Nil, 0L, warmup = k == 0)
      })
    }
    if (!trace) return Measured(ops.toSeq, Nil)
    val stream = StreamProbe.run(spark, in, seed)
    val tracedOps = ops.filter(_.traced).toSeq
    def mean(xs: Seq[Op]) = xs.map(_.wallS).sum / xs.size
    def med(rows: Seq[Map[String, Double]], key: String) = Workload.median(rows.flatMap(_.get(key)))
    Measured(ops.toSeq ++ stream.ops, stream.layers ++
      Workload.engineLayers(counts, tracedOps.size, tracedOps.map(_.wallS).sum, peak) ++
      (Stages :+ "result_counts").map(s => s"pipeline.${s}_s" -> med(stageS.toSeq, s)) ++
      Seq("io.bronze_mb", "io.silver_mb", "io.audit_mb", "io.gold_mb", "io.files_written",
        "io.bytes_per_raw_byte").map(key => key -> med(io.toSeq, key)) :+
      ("trace.overhead_ratio" -> mean(tracedOps) / mean(ops.filterNot(o => o.traced || o.warmup).toSeq)))
  }

  private val DurationMs = "\"duration_ms\":(\\d+)".r
  private def stageSeconds(path: String): Double = {
    val s = new String(Files.readAllBytes(new File(path).toPath), "UTF-8")
    DurationMs.findFirstMatchIn(s).map(_.group(1).toLong / 1e3).getOrElse(Double.NaN)
  }
}

/** The curation layer, measured inside a traced `catalog` run, where the
  * text and dedup query families run: `CorpusCurate.run(retainPin = false)`
  * over the seeded duplicate-planted corpus (checked against its committed
  * manifest), then its quality gate and its near-duplicate stage, each
  * materialized alone. */
object CurateProbe {
  val DocsSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  def generate(in: String, seed: Long): Unit =
    Inputs.corpus(s"$in/docs.jsonl", Inputs.CorpusDocs, seed % Inputs.Variants)

  def run(spark: SparkSession, in: String): Measured = {
    val path = s"$in/docs.parquet"
    spark.read.schema(DocsSchema).json(s"$in/docs.jsonl").write.mode("overwrite").parquet(path)
    val runs = (0 until 2).map { k =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val op = scala.util.Try(CorpusCurate.run(spark.read.parquet(path), retainPin = false)._2) match {
        case scala.util.Success(m) => Op("curate", s"curate_$k", (System.nanoTime() - t0) / 1e9,
          traced = true, None, Seq("manifest" -> Json.str(m.toString)), m.inputDocs)
        case scala.util.Failure(e) => Op("curate", s"curate_$k", 0.0, traced = true,
          Some(Workload.errorOf(e)), Nil, 0L)
      }
      op.copy(warmup = k == 0)
    }
    def alone(f: DataFrame => DataFrame): Double = Workload.median((0 until 2).map { _ =>
      spark.catalog.clearCache()
      val t = System.nanoTime()
      f(spark.read.parquet(path)).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t) / 1e9
    })
    val gate = alone(d => d
      .withColumn("quality_score", TextSignals.qualityScore(col("text")))
      .withColumn("fp", TextSignals.normalizedFingerprint(col("text"))))
    val near = alone(d => StreamingDocIngest.nearDupBatchTwin(d, 0.6))
    spark.catalog.clearCache()
    val timed = runs.filterNot(_.warmup)
    Measured(runs, Seq(
      "curate.docs_per_s" -> timed.map(_.items).sum / timed.map(_.wallS).sum,
      "text.quality_gate_s" -> gate, "dedup.near_dup_s" -> near))
  }
}

/** The streaming layer, measured inside a traced `lake_etl` run: a
  * continuously running file-source stream through
  * `StreamingBronze.pipeline` into a partitioned Parquet sink. Each batch
  * lands one seeded 20k-row day file and waits on `processAllAvailable()`.
  * The first `WarmBatches` are checked but not part of the metrics. */
object StreamProbe {
  val WarmBatches = 3
  val Batches = 6

  def generate(in: String, seed: Long): Unit =
    (0 until WarmBatches).foreach(dayFile(in, seed, _))

  /** Day `d`'s raw file under `<in>/staging`, generated on first use. */
  private def dayFile(in: String, seed: Long, d: Int): File = {
    val date = Inputs.StreamStart.plusDays(d.toLong)
    val f = new File(s"$in/staging/day_$d/transactions/ingest_date=$date/transactions_$date.csv")
    if (f.exists) f else Inputs.streamDay(s"$in/staging/day_$d", seed, d)
  }

  def run(spark: SparkSession, in: String, seed: Long): Measured = {
    val base = new File(s"$in/stream").getAbsolutePath
    val (watched, sink) = (s"$base/watched", s"$base/sink")
    new File(watched).mkdirs()
    val query = StreamingBronze.pipeline(
      StreamingBronze.readRawStream(spark, watched, maxFilesPerTrigger = 1))
      .writeStream.format("parquet")
      .option("path", sink)
      .option("checkpointLocation", s"$base/checkpoint")
      .partitionBy("txn_date")
      .start()
    val ops = (0 until WarmBatches + Batches).map { d =>
      val f = dayFile(in, seed, d)
      val expected = Inputs.distinctTimedIds(f)
      val date = Inputs.StreamStart.plusDays(d.toLong).toString
      val t0 = System.nanoTime()
      val error = scala.util.Try {
        Files.move(f.toPath, new File(watched, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
      }.failed.toOption.map(Workload.errorOf)
      (Op("batch", s"batch_$d", (System.nanoTime() - t0) / 1e9, traced = true, error, Nil,
        expected, warmup = d < WarmBatches), date)
    }
    val progress = query.recentProgress.filter(_.numInputRows > 0).toSeq
    query.stop()
    val sinkRows = spark.read.parquet(sink).groupBy(col("txn_date").cast("string"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val checked = ops.map { case (op, date) =>
      op.copy(check = Seq("expected_rows" -> op.items.toString,
        "sink_rows" -> sinkRows.getOrElse(date, 0L).toString))
    }
    // One data batch per landed file, in landing order.
    val measured = progress.drop(WarmBatches)
    def dur(key: String) = Workload.median(measured.map(p =>
      Option(p.durationMs.get(key)).map(_.longValue / 1e3).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      Workload.median(measured.flatMap(_.stateOperators.headOption).map(f))
    Measured(checked, Seq(
      "streaming.batch_s" -> Workload.median(checked.filterNot(_.warmup).map(_.wallS)),
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.latest_offset_s" -> dur("latestOffset"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.state_rows" -> state(_.numRowsTotal.toDouble),
      "streaming.state_mb" -> state(_.memoryUsedBytes / 1e6)))
  }
}
