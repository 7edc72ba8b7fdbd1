package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. Modes:
  *  - `run`: generate inputs, set up `SetupCycles` times (the last session
  *    is kept), measure, and write the raw result JSON to `--out`;
  *  - `gen`: only generate the workload's inputs into `--work`;
  *  - `expect`: for `catalog`, run every `QueryCatalog` query once, in
  *    catalog order; for `lake_etl` and `corpus_curate` (the curation
  *    probe), run every input variant. Writes the same raw JSON, from which
  *    `make_expected.py` refreshes the committed expected values.
  * Correctness verdicts and metric aggregation live in `metrics.py`. */
object Main {
  /** Task slots. Two of the machine's four cores, so that the JIT, the
    * garbage collector and the driver thread do not queue behind tasks. */
  val Cores = 2
  /** Partitions of scans and shuffles, fixed so that outputs do not depend
    * on the slot count. */
  val Partitions = 4
  val SetupCycles = 3
  /** The benchmark directory (holds `data/`), passed by the front end. */
  var benchDir: String = "perfbench"

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.default.parallelism", Partitions.toString)
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = a.getOrElse("mode", "run")
    val seed = a.getOrElse("seed", "1").toLong
    val work = new File(a("work")).getAbsolutePath
    benchDir = new File(a.getOrElse("bench", "perfbench")).getAbsolutePath
    val in = s"$work/input"
    new File(in).mkdirs()
    mode match {
      case "gen" =>
        Workload.all(a("workload")).generate(in, seed)
      case "run" =>
        val wl = Workload.all(a("workload"))
        wl.generate(in, seed)
        var spark: SparkSession = null
        val setups = (0 until SetupCycles).map { c =>
          if (spark != null) spark.stop()
          val t0 = System.nanoTime()
          spark = session(work)
          wl.prepare(spark, in, seed, c)
          (System.nanoTime() - t0) / 1e9
        }
        val m = wl.measure(spark, in, seed, a("seconds").toDouble, a("trace") == "1")
        spark.stop()
        write(a("out"), a("workload"), seed, setups, m)
      case "expect" =>
        val spark = session(work)
        val workload = a.getOrElse("workload", "catalog")
        val ops = if (workload == "catalog") {
          Catalog.prepare(spark, in, seed, 0)
          val sf = Catalog.sfDir(in)
          graft.QueryCatalog.all.map(q => Catalog.runQuery(spark, q, sf, traced = false).op)
        } else (0 until Inputs.Variants).flatMap { v =>
          val dir = s"$in/variant_$v"
          val ops = workload match {
            case "lake_etl" =>
              LakeEtl.prepare(spark, dir, v, 0)
              LakeEtl.measure(spark, dir, v, 0.0, trace = false).ops
            case "corpus_curate" =>
              CurateProbe.generate(dir, v)
              CurateProbe.run(spark, dir).ops
          }
          ops.map(o => o.copy(name = s"$v/${o.name}"))
        }
        spark.stop()
        write(a("out"), workload, seed, Nil, Measured(ops, Nil))
    }
  }

  private def write(out: String, workload: String, seed: Long, setups: Seq[Double],
      m: Measured): Unit = {
    val json = Json.obj(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "ops" -> Json.arr(m.ops.map(_.json)),
      "layers" -> Json.obj(m.layers.map { case (k, v) => k -> Json.num(v) })))
    Inputs.writeLines(out, Iterator.single(json))
  }
}
