package clifbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.ClifbenchAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.clif.ClifEtl

/** One benchmark workload in one fresh JVM, driven by `clifbench/run.py`.
  *
  * Usage: clifbench.Main --workload clif_etl|board
  *          --seed N --seconds S --trace 0|1 --work DIR --t0-ms MS [--record]
  *
  * Set-up starts one session, prepares fresh inputs and expected outputs
  * (`prepare.py`) [[PrepareRounds]] times over, each into its own directory, and
  * warms up on them untimed; runs use the last round's inputs. `setup_s` is
  * the time from `--t0-ms` (the moment the workload was launched, so JVM
  * start counts) to the first timed operation, with the prepare rounds
  * counted once, at their median. Then one closed-loop client repeats the
  * workload's run until `seconds` of measured time have passed and at
  * least `minRuns` runs were made.
  * With `--trace 1` runs alternate between untraced and traced (the
  * [[Probe]] listeners registered), so the per-layer numbers come with
  * their own overhead measurement. Everything is written to
  * `<work>/jvm_result.json`; run.py adds the content check and prints.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, t0Ms: Long, record: Boolean)

  private def parse(a: Array[String]): Args = {
    val flags = Set("--record")
    val m = a.filterNot(flags).sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    Args(m("--workload"), m("--seed").toLong, m("--seconds").toDouble,
      m("--trace") == "1", Paths.get(m("--work")).toAbsolutePath,
      m("--t0-ms").toLong, a.contains("--record"))
  }

  val benchDir: Path = Paths.get("clifbench").toAbsolutePath

  /** Set-up prepares inputs and expected outputs this many times. */
  val PrepareRounds = 3
  /** Seeds map onto this many recorded CLIF data variants. */
  val ClifVariants = 8
  /** Raw-extract scale (BASELINE.md lab-analyte proxy = 1.0). */
  val ClifScale = 0.05
  /** Scale factor of the board tables (TESTDATA.md sf). */
  val BoardSf = 0.02

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w: Workload = args.workload match {
      case "clif_etl" => new ClifWorkload(args)
      case "board" => new BoardWorkload(args)
      case other => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(args.work)
    val shmBefore = Layers.shmDirs.map(_.getName).toSet
    val cpus = Runtime.getRuntime.availableProcessors

    // set-up: one session; the inputs and expected outputs prepared
    // PrepareRounds times (the median round counts); untimed warm-up
    val spark = GraftSession.local(cpus)
    val roundsS = (1 to PrepareRounds).map { r =>
      val t = System.nanoTime()
      w.prepare(args.work.resolve(s"round$r"))
      (System.nanoTime() - t) / 1e9
    }
    val warmStart = System.nanoTime()
    w.warm(spark)
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val setupS = (System.currentTimeMillis() - args.t0Ms) / 1000.0 -
      roundsS.sum + Stats.median(roundsS)
    val probe = new Probe(spark, w.rawDir, w.outDir)

    // closed loop: until `seconds` are measured and the workload's minimum
    // number of runs is reached (a traced invocation needs one of each)
    val runs = mutable.ArrayBuffer.empty[Run]
    var measured = 0.0
    while (runs.size < w.minRuns || measured < args.seconds ||
           (args.trace && runs.size < 2)) {
      val traced = args.trace && runs.size % 2 == 1
      if (traced) { probe.register(); probe.drain() }
      val before = if (traced) probe.snapshot() else Map.empty[String, Double]
      probe.resetPeak()
      val run = w.runOnce(spark)
      val layers = if (traced) {
        probe.unregister()
        val after = probe.snapshot()
        Some(Layers.of(run, before, after, probe))
      } else None
      runs += run.copy(layers = layers)
      measured += run.wallS
    }
    if (args.record) w.record(spark)
    val failures = runs.flatMap(_.failures) ++ w.finalCheck(spark)
    val mem = Layers.leftBehind(spark, shmBefore) +
      ("mem.retained_heap_mb" -> Stats.retainedHeapMb())
    spark.stop()

    val untraced = runs.filter(_.layers.isEmpty)
    val traced = runs.filter(_.layers.nonEmpty)
    val runS = Stats.median(untraced.map(_.wallS).toSeq)
    val e2e = Map(
      "setup_s" -> setupS,
      "run_s" -> runS,
      "op_geomean_ms" -> Stats.geomean(untraced.head.opsMs.indices.map(i =>
        Stats.median(untraced.map(_.opsMs(i)).toSeq))),
      "rows_per_s" -> Stats.median(untraced.map(r => r.rows / r.wallS).toSeq))
    val layers = if (traced.isEmpty) Map.empty[String, Double] else {
      val keys = traced.flatMap(_.layers.get.keys).toSet
      keys.map(k => k -> Stats.median(traced.map(_.layers.get.getOrElse(k, 0.0)).toSeq))
        .toMap ++ mem
    }
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "cpus" -> cpus,
      "setup_prepare_rounds_s" -> roundsS, "setup_warm_s" -> warmS,
      "runs" -> untraced.size, "ops_per_run" -> untraced.head.opsMs.size,
      "run_s_each" -> untraced.map(_.wallS).toSeq,
      "attempted" -> (runs.map(_.attempted).sum + w.finalCheckOps),
      "failed" -> failures.size,
      "left_behind" -> mem)
    if (traced.nonEmpty) {
      report("traced_runs") = traced.size
      report("traced_run_s") = Stats.median(traced.map(_.wallS).toSeq)
      report("trace_overhead") =
        Stats.median(traced.map(_.wallS).toSeq) / runS - 1.0
    }
    report ++= w.notes(layers, untraced.toSeq)
    Json.write(args.work.resolve("jvm_result.json"), Map(
      "attempted" -> report("attempted"), "failed" -> failures.size,
      "failures" -> failures.take(20).toSeq, "end_to_end" -> e2e,
      "per_layer" -> layers, "report" -> report))
  }
}

/** One measured run: its wall time, per-operation latencies and spans,
  * output rows, failures and (on traced runs) the per-layer deltas. */
final case class Run(wallS: Double, startMs: Long, endMs: Long,
                     opsMs: Seq[Double], opSpans: Seq[(Long, Long)],
                     buildSpans: Seq[(Long, Long)], buildMs: Double,
                     rows: Double, attempted: Int, failures: Seq[String],
                     extra: Map[String, Double] = Map.empty,
                     layers: Option[Map[String, Double]] = None)

/** A benchmark workload: inputs per set-up round, a warm run, the
  * measured run, and the checks that make a run count as correct. */
trait Workload {
  def rawDir: Option[String] = None
  def outDir: Option[String] = None
  /** Runs per invocation at least; more while under `--seconds`. */
  def minRuns: Int
  def prepare(dir: Path): Unit
  def warm(spark: SparkSession): Unit
  def runOnce(spark: SparkSession): Run
  /** Once per invocation, outside the timed region. */
  def finalCheck(spark: SparkSession): Seq[String] = Nil
  def finalCheckOps: Int = 0
  def record(spark: SparkSession): Unit = sys.error("nothing to record")
  def notes(layers: Map[String, Double], runs: Seq[Run]): Map[String, Any] = Map.empty

  protected def python(args: String*): Unit = {
    val p = new ProcessBuilder(("python3" +: args): _*).inheritIO().start()
    try require(p.waitFor() == 0, s"prepare failed: ${args.mkString(" ")}")
    finally p.destroy()
  }
}

/** `clif_etl`: raw C19 extracts -> `ClifEtl.run` -> 15 contract tables. */
final class ClifWorkload(args: Main.Args) extends Workload {
  private val variant = java.lang.Math.floorMod(args.seed, Main.ClifVariants.toLong)
  private var dir: Path = _
  private def raw = dir.resolve("raw")
  private def out = dir.resolve("out")
  override def rawDir: Option[String] = Option(dir).map(_ => raw.toString)
  override def outDir: Option[String] = Option(dir).map(_ => out.toString)

  private lazy val expected: Map[String, (Long, String)] =
    Json.readClifExpected(Main.benchDir.resolve("expected_clif.json"), variant.toString)
  private def rawFiles = Files.list(raw).iterator.asScala.toSeq
  private lazy val rawBytes = rawFiles.map(Files.size).sum.toDouble
  private lazy val rawRows = rawFiles.map { f =>
    val s = Files.lines(f); try s.count() - 1 finally s.close()
  }.sum.toDouble

  def prepare(d: Path): Unit = {
    dir = d
    python(Main.benchDir.resolve("prepare.py").toString, "clif", d.toString,
      "--seed", variant.toString, "--scale", Main.ClifScale.toString)
  }

  /** One ETL run outlasts `--seconds`; more would not fit the time
    * budget. Its JIT warm-up is what varies between JVMs, so set-up makes
    * two warm runs, concurrently to save wall time: one on round 1's
    * extracts, one on the measured round's (which also pins its schema
    * snapshot, so every timed run reads with pinned schemas). The first
    * timed run then varies about as little as later ones do. */
  val minRuns = 1

  def warm(spark: SparkSession): Unit = {
    val first = dir.resolveSibling("round1")
    var failure: Option[Throwable] = None
    val other = new Thread(() =>
      try ClifEtl.run(spark, first.resolve("raw").toString, first.resolve("out").toString)
      catch { case e: Throwable => failure = Some(e) })
    other.start()
    ClifEtl.run(spark, raw.toString, out.toString)
    other.join()
    failure.foreach(throw _)
  }

  def runOnce(spark: SparkSession): Run = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val (results, err) =
      try (ClifEtl.run(spark, raw.toString, out.toString), None)
      catch { case NonFatal(e) => (Nil, Some(s"ClifEtl.run: $e")) }
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    val failures = err.toSeq ++ (if (err.nonEmpty || args.record) Nil else
      results.collect {
        case (t, _, note) if note != "contract-ok" => s"$t: $note"
        case (t, rows, _) if !expected.get(t).exists(_._1 == rows) =>
          s"$t: $rows rows, expected ${expected.get(t).map(_._1)}"
      } ++ expected.keySet.diff(results.map(_._1).toSet).map(t => s"$t: missing"))
    val files = outputFiles
    Run(wall, t0, t1, Seq(wall * 1000), Seq((t0, t1)), Nil, 0.0, rawRows,
      1, failures, Map(
        "clif.files_written" -> files.size.toDouble,
        "clif.bytes_written_per_input_byte" -> files.map(Files.size).sum / rawBytes,
        "clif.raw_bytes" -> rawBytes))
  }

  private def outputFiles: Seq[Path] = {
    val s = Files.walk(out)
    try s.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
        !p.toString.contains("/_schemas/")
    }.toSeq finally s.close()
  }

  /** Order-independent content hash of one written table. */
  private def contentHash(spark: SparkSession, table: String): (Long, String) = {
    val df = spark.read.parquet(out.resolve(s"$table.parquet").toString)
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  override def finalCheck(spark: SparkSession): Seq[String] =
    if (args.record) Nil
    else expected.toSeq.sortBy(_._1).flatMap { case (t, (rows, hash)) =>
      val got = try contentHash(spark, t) catch { case NonFatal(e) => (-1L, e.toString) }
      if (got == ((rows, hash))) None else Some(s"$t: content $got, expected ($rows,$hash)")
    }
  override def finalCheckOps: Int = 1

  override def record(spark: SparkSession): Unit = {
    val f = Main.benchDir.resolve("expected_clif.json")
    val all = if (Files.exists(f)) Json.readAllClifExpected(f)
              else Map.empty[String, Map[String, (Long, String)]]
    val tables = ClifEtl.run(spark, raw.toString, out.toString).map(_._1)
    val now = tables.map(t => t -> contentHash(spark, t)).toMap
    Json.writeClifExpected(f, all + (variant.toString -> now))
  }

  override def notes(layers: Map[String, Double], runs: Seq[Run]): Map[String, Any] = {
    val labRows = {
      val s = Files.lines(raw.resolve("C19_LAB_LDS.txt")); try s.count() - 1 finally s.close()
    }
    Map("raw_rows" -> rawRows.toLong, "raw_bytes" -> rawBytes.toLong,
      "data_variant" -> variant) ++
      layers.get("clif.labs_ms").map(ms => "labs_vs_reference" ->
        (f"labs pipeline ${ms / 1000}%.2f s for $labRows lab rows here; " +
         "the reference's C19_LAB_LDS scan takes ~3 minutes (BASELINE.md)"))
  }
}

/** `board`: the `run` rows of the frozen `board_short` and `board_heavy`
  * lists of `SparkEntry.queries`, each operation being the build call
  * plus `count()`. */
final class BoardWorkload(args: Main.Args) extends Workload {
  private val names: Seq[String] =
    Seq("board_short", "board_heavy").flatMap(BoardWorkload.runList)
  private lazy val queries = SparkEntry.queries
  private var tables: String = _
  private var expected: Map[String, Long] = Map.empty

  def prepare(d: Path): Unit = {
    Files.createDirectories(d)
    val sqlFile = d.resolve("oracle_sql.json")
    Json.write(sqlFile, names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    python(Main.benchDir.resolve("prepare.py").toString, "board", d.toString,
      "--seed", args.seed.toString, "--sf", Main.BoardSf.toString,
      "--oracle", sqlFile.toString)
    tables = d.resolve("tables").toString
    expected = Json.readRows(d.resolve("expected.json"))
  }

  /** With two warm passes, passes were still getting faster up to the
    * seventh, by a different amount in each JVM; after four, the median
    * of seven timed passes sits in the steady part. */
  val minRuns = 7

  /** Four untimed passes: the first is each query's first execution in
    * the JVM (codegen, class loading, per-JVM staging). */
  def warm(spark: SparkSession): Unit = for (_ <- 1 to 4; n <- names)
    try queries(n)(spark, tables).count() catch { case NonFatal(_) => }

  def runOnce(spark: SparkSession): Run = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val ops = names.map { n =>
      val s0 = System.currentTimeMillis(); val b0 = System.nanoTime()
      try {
        val df = queries(n)(spark, tables)
        val b1 = System.nanoTime(); val s1 = System.currentTimeMillis()
        val rows = df.count()
        val e = System.nanoTime()
        val bad = if (expected.get(n).contains(rows)) None
                  else Some(s"$n: $rows rows, oracle ${expected.get(n)}")
        ((e - b0) / 1e6, (s0, System.currentTimeMillis()), (s0, s1), (b1 - b0) / 1e6, rows, bad)
      } catch { case NonFatal(ex) =>
        val e = System.nanoTime()
        ((e - b0) / 1e6, (s0, System.currentTimeMillis()), (s0, s0), 0.0, 0L,
          Some(s"$n: ${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(200)}"))
      }
    }
    val wall = (System.nanoTime() - n0) / 1e9
    Run(wall, t0, System.currentTimeMillis(), ops.map(_._1), ops.map(_._2),
      ops.map(_._3), ops.map(_._4).sum, ops.map(_._5).sum.toDouble,
      ops.size, ops.flatMap(_._6))
  }

  /** Median latency per query over the untraced runs. */
  override def notes(layers: Map[String, Double], runs: Seq[Run]): Map[String, Any] =
    Map("op_ms_by_query" -> names.indices.map { i =>
      names(i) -> math.round(Stats.median(runs.map(_.opsMs(i))))
    }.toMap)

  /** Writes each query's result once for run.py's content comparison. */
  override def finalCheck(spark: SparkSession): Seq[String] = names.flatMap { n =>
    try {
      queries(n)(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(args.work.resolve("results").resolve(n).toString)
      None
    } catch { case NonFatal(e) => Some(s"$n: result write failed: $e") }
  }
}

object BoardWorkload {
  /** Queries of a board's measured run: the rows of its frozen list
    * marked `run`. */
  def runList(board: String): Seq[String] =
    Files.readAllLines(Main.benchDir.resolve("lists").resolve(s"$board.tsv")).asScala
      .filterNot(_.startsWith("#")).map(_.split("\t"))
      .collect { case Array(n, _, "run") => n }.toSeq
}

object Layers {
  /** Per-layer deltas of one traced run. */
  def of(run: Run, before: Map[String, Double], after: Map[String, Double],
         probe: Probe): Map[String, Double] = {
    val delta = (after.keySet ++ before.keySet).map { k =>
      k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))
    }.toMap
    val jobs = probe.jobIntervals
      .filter { case (s, e) => e >= run.startMs && s <= run.endMs }
    val batches = probe.batchSpans
      .filter { case (s, _) => s >= run.startMs && s <= run.endMs }
    val startStop = run.opSpans.map { case (s, e) =>
      val b = batches.filter { case (bs, _) => bs >= s && bs <= e }
      if (b.isEmpty) 0.0 else (e - s) - b.map(_._2).sum.toDouble
    }.sum
    val rawBytes = run.extra.getOrElse("clif.raw_bytes", 0.0)
    delta ++ run.extra - "clif.raw_bytes" - "clif.raw_bytes_read" ++ Map(
      "exec.peak_exec_mem_bytes" -> after("exec.peak_exec_mem_bytes"),
      "exec.driver_gap_ms" ->
        run.opSpans.map { case (s, e) => Probe.uncovered(s, e, jobs).toDouble }.sum,
      "entry.build_ms" -> run.buildMs,
      "entry.eager_jobs" -> jobs.count { case (s, _) =>
        run.buildSpans.exists { case (b0, b1) => s >= b0 && s <= b1 } }.toDouble,
      "stream.startstop_ms" -> startStop,
      "clif.raw_bytes_read_per_raw_byte" ->
        (if (rawBytes > 0) delta.getOrElse("clif.raw_bytes_read", 0.0) / rawBytes else 0.0))
  }

  /** The engine's RAM-disk scratch entries that exist right now. */
  def shmDirs: Seq[File] = Option(new File("/dev/shm").listFiles).toSeq.flatten
    .filter(_.getName.startsWith("graft_"))

  private def bytesUnder(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(bytesUnder).sum

  /** What the session holds or left on disk at the end of the run:
    * persisted RDDs, storage memory, and scratch bytes in the block
    * manager's local dirs, the JVM temp dir and the engine's RAM-disk
    * checkpoint dirs (/dev/shm/graft_*, removed only at JVM exit) that
    * did not exist when this JVM started. */
  def leftBehind(spark: SparkSession, shmBefore: Set[String]): Map[String, Double] = {
    val sc = spark.sparkContext
    val shm = shmDirs.filterNot(f => shmBefore(f.getName))
    val local = ClifbenchAccess.blockManagerDirs.map(bytesUnder).sum
    val tmp = bytesUnder(new File(System.getProperty("java.io.tmpdir")))
    Map(
      "mem.persisted_rdds_end" -> sc.getPersistentRDDs.size.toDouble,
      "mem.storage_used_bytes_end" ->
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble,
      "mem.scratch_bytes_end" -> (shm.map(bytesUnder).sum + local + tmp).toDouble,
      "mem.shm_dirs_end" -> shm.size.toDouble,
      "mem.shm_bytes_end" -> shm.map(bytesUnder).sum.toDouble,
      "mem.local_dir_bytes_end" -> local.toDouble,
      "mem.tmp_bytes_end" -> tmp.toDouble)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Heap still live after full collections: the heap pools' occupancy
    * right after their last collection, which later allocation does not
    * inflate. */
  def retainedHeapMb(): Double = {
    for (_ <- 1 to 2) System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
