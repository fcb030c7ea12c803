package lcbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Main
import graft.ml.{FilterSerializer, StarsFilterModel, VariogramSlopeDescr}
import graft.model.{LightCurveData, Star}
import graft.sources.{ConfigParsers, Fits, QuerySpec, StarsProvider}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line options; `lcbench/run.py` passes all of them. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      inputs: String, work: String, corpus: String, expected: String,
                      out: String) {
  /** Spark runs `local[cores]`: every core the JVM may use. */
  val cores: Int = Runtime.getRuntime.availableProcessors
}

/** One benchmark run in one JVM: set-up, warm-up, the measured window and
  * the output checks of one workload, or with `--trace 1` the per-layer
  * suite of [[Layers]]. Writes its result as one JSON object to `--out`.
  */
object Harness {
  val Descriptors = "AbbeValueDescr,SkewnessDescr,KurtosisDescr,VariogramSlopeDescr"
  val Deciders = Seq("LDADec", "QDADec", "GaussianNBDec", "TreeDec")
  val DriverQueries = Seq("q104_corpus_build", "q185_kn_trigram", "q76_crossmodal_dedup",
    "q58_dedup_clusters", "q57_ann_ivf", "q145_bm25_inc_topk")
  /** Floors of the output checks (the generated classes separate cleanly). */
  val PrecisionFloor = 0.9
  val RecallFloor = 0.8
  val SetupRepeats = 3
  val MinSamples = 3
  /** Operations run before the measured window: the JIT keeps speeding
    * them up over the first few.
    */
  val WarmUps = 2

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("inputs"), m("work"), m("corpus"), m("expected"), m("out"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val run = new Run(o)
    val fields =
      try run.execute()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          run.fail("run", s"${e.getClass.getSimpleName}: ${e.getMessage}")
          run.result()
      } finally run.stop()
    Files.writeString(Paths.get(o.out), Json.write(fields.toMap))
    // explicit exit: a stray non-daemon thread must not keep the JVM alive
    sys.exit(0)
  }
}

/** The state of one run: the session, the project, counters and metrics. */
final class Run(val o: Opts) {
  import Harness._

  var spark: SparkSession = _
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val notes = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failedOps = 0
  private var opFailed = false
  private var tmpCount = 0
  val tracer = new Tracer(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")

  def metric(name: String, value: Double, unit: String, n: Int = 1): Unit =
    metrics(name) = (value, unit, n)

  def note(s: String): Unit = notes += s

  private val born = System.nanoTime()

  /** Progress on stderr (the harness log), with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[lcbench ${secondsSince(born)}%8.2f] $msg")

  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) fail(name, detail)

  def fail(name: String, detail: String): Unit = {
    failures += s"$name: $detail"
    opFailed = true
  }

  /** Count one operation; it fails if it throws or a check inside fails. */
  def operation[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    opFailed = false
    val t0 = System.nanoTime()
    val r =
      try Some(body)
      catch {
        case e: Exception =>
          e.printStackTrace()
          fail(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    if (opFailed) failedOps += 1
    log(f"$name ${secondsSince(t0)}%.2fs ${if (opFailed) "FAILED" else "ok"}")
    r.filter(_ => !opFailed)
  }

  // ---- session and project ------------------------------------------------

  /** A fresh session with a fresh `java.io.tmpdir`, so persisted indexes
    * (`Tables.derivedIndexPath`) are built by this run, never served from
    * an earlier one.
    */
  def startSession(): Unit = {
    if (spark != null) spark.stop()
    tmpCount += 1
    val tmp = Paths.get(o.work, s"tmp-$tmpCount")
    Files.createDirectories(tmp)
    System.setProperty("java.io.tmpdir", tmp.toString)
    // graft.Main's session settings, on local[nproc]
    spark = SparkSession.builder()
      .appName("lcbench")
      .master(s"local[${o.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.local.dir", tmp.resolve("spark").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  lazy val settings: Main.Settings = {
    val proj = Paths.get(o.inputs)
    Main.createProject(proj.getFileName.toString, proj.getParent.toString)
    Main.loadSettings(proj.toString)
  }

  private def readJson(name: String): Map[String, String] =
    Json.mapper.readValue(Paths.get(o.inputs, name).toFile, classOf[java.util.Map[String, Object]])
      .asScala.map { case (k, v) => k -> String.valueOf(v) }.toMap

  /** What the generator wrote: class names and input sizes. */
  lazy val meta: Map[String, String] = readJson("meta.json")

  /** Generator labels of the archive stars (star id → class). */
  lazy val labels: Map[String, String] = readJson("labels.json")

  def searchedClass: String = meta("searched")

  def sample(cls: String): DataFrame =
    StarsProvider.getProvider("FileManager").getStars(spark, Seq(QuerySpec(Map(
      "path" -> Paths.get(settings.inpLcs, cls).toString, "suffix" -> "dat",
      "star_class" -> cls)))).toDF()

  def archive: DataFrame =
    StarsProvider.getProvider("FileManager").getStars(spark, Seq(QuerySpec(Map(
      "path" -> Paths.get(o.inputs, "archive").toString, "suffix" -> "dat")))).toDF()

  /** Star names the query file asks for, in file order. */
  lazy val queriedNames: Seq[String] =
    Files.readAllLines(Paths.get(settings.queries, "search.txt")).asScala.toSeq
      .filterNot(_.startsWith("#")).filter(_.nonEmpty)
      .flatMap(_.split(",", -1)(2).split(";"))

  def makeFilterOpts(name: String, tuning: String): Map[String, Seq[String]] =
    Map("-f" -> Seq(Descriptors), "-d" -> Seq(Deciders.mkString(",")),
      "-s" -> Seq(meta("searched")), "-c" -> Seq(meta("contamination")),
      "-n" -> Seq(name), "-i" -> Seq(tuning))

  def filterStarsOpts(filter: String, runName: String): Map[String, Seq[String]] =
    Map("-d" -> Seq("FileManager"), "-q" -> Seq("search.txt"),
      "-f" -> Seq(s"$filter.filter"), "-r" -> Seq(runName))

  /** The grid row a trained filter came from, read back from the model. */
  def label(m: StarsFilterModel): String =
    (m.descriptors.collect { case v: VariogramSlopeDescr => s"days_per_bin=${v.daysPerBin}" } ++
      m.models.map(d => s"${d.name}@${d.threshold}")).mkString(",")

  /** Precision and recall of the searched class among `passed` star ids,
    * against the generator's labels of `universe`.
    */
  def precisionRecall(passed: Set[String], universe: Iterable[String]): (Double, Double) = {
    val truth = universe.filter(n => labels.get(n).contains(searchedClass)).toSet
    val tp = (passed intersect truth).size.toDouble
    (if (passed.isEmpty) 0.0 else tp / passed.size, if (truth.isEmpty) 1.0 else tp / truth.size)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  // ---- the run ---------------------------------------------------------------

  def execute(): Seq[(String, Any)] = {
    val workload: Workload = o.workload match {
      case "train-grid"  => new TrainGrid(this)
      case "search-scan" => new Search(this)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: the median of several session starts, then one-time
    // preparation and warm-up; `run.py` adds input generation
    val starts = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      startSession()
      settings
      workload.touch()
      secondsSince(t0)
    }
    log(s"session starts: ${starts.mkString(" ")}")
    val t1 = System.nanoTime()
    workload.prepare()
    val prepareS = secondsSince(t1)
    // the traced run warms up in its layer suite instead
    val t2 = System.nanoTime()
    if (!o.trace) workload.warmUp()
    val warmUpS = secondsSince(t2)
    metric("setup.session_start_s", median(starts), "s", starts.length)
    metric("setup.prepare_s", prepareS, "s")
    metric("setup.warmup_s", warmUpS, "s")
    metric("setup_s", median(starts) + prepareS + warmUpS, "s", starts.length)

    if (o.trace) new Layers(this, workload).run()
    else workload.measure()
    metric("peak_rss_mb", peakRssMb, "MB")
    result()
  }

  /** Heap in use after a full collection: what the program retains. The
    * pause lets Spark's `ContextCleaner` drop the blocks of the references
    * the first collection cleared, so the second one frees them too.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def result(): Seq[(String, Any)] = Seq(
    "attempted" -> attempted,
    "failed" -> failedOps,
    "failures" -> failures.toSeq,
    "notes" -> notes.toSeq,
    "metrics" -> metrics.map { case (k, (v, u, n)) =>
      k -> Map("value" -> v, "unit" -> u, "n" -> n) }.toMap,
    "context" -> Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "master" -> s"local[${o.cores}]",
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString))

  /** Time `body` over the measured window: at least [[MinSamples]] samples
    * and at least `--seconds` of summed sample time. After the first sample,
    * outside its time, the live heap is read as `live_heap_mb`: the heap
    * keeps about 5 MB of Spark bookkeeping per operation, so a later sample
    * would depend on how many operations fit in the window.
    */
  def window(body: Int => Option[Double]): Seq[Double] = {
    val samples = mutable.ArrayBuffer.empty[Double]
    var i = 0
    var spent = 0.0
    while ((samples.length < MinSamples || spent < o.seconds) && i < 1000 &&
           (samples.nonEmpty || i < MinSamples)) { // stop when every sample failed
      body(i).foreach { s =>
        samples += s
        spent += s
        if (samples.length == 1) metric("live_heap_mb", liveHeapMb(), "MB")
      }
      i += 1
    }
    samples.toSeq
  }
}

/** One workload: `touch` runs in each repeated session start, `prepare`
  * once after them, then `warmUp`, then `measure` (untraced run) or the
  * layer suite (traced run), which calls `op` for its overhead estimate.
  */
trait Workload {
  def touch(): Unit
  def prepare(): Unit
  def measure(): Unit
  def warmUp(): Unit = (1 to Harness.WarmUps).foreach(i => op(-i))
  /** One checked operation; its wall seconds, or None if it failed. */
  def op(i: Int): Option[Double]
}

/** `train-grid`: `Main.makeFilter` over the tuning grid `grid.txt`. */
final class TrainGrid(r: Run) extends Workload {
  import Harness._
  private var bestLabel: Option[String] = None

  def touch(): Unit = {
    // first touch of the inputs: both training samples, read once
    r.sample(r.meta("searched")).count()
    r.sample(r.meta("contamination")).count()
  }

  def prepare(): Unit = ()

  def op(i: Int): Option[Double] = r.operation("make-filter") {
    val t0 = System.nanoTime()
    val path = Main.makeFilter(r.spark, r.settings, r.makeFilterOpts(s"grid$i", "grid.txt"))
    val s = secondsSince(t0)
    val model = FilterSerializer.load(path.toString)
    val l = r.label(model)
    if (bestLabel.isEmpty) {
      bestLabel = Some(l)
      checkPrecision(model)
    }
    r.check("make-filter.best", bestLabel.contains(l), s"best combination $l != ${bestLabel.get}")
    s
  }

  /** Held-out precision of a trained filter over the labelled archive. */
  def checkPrecision(model: StarsFilterModel): Unit = {
    val passed = model.getAllPredictions(r.archive).filter(col("passed"))
      .select("starId").collect().map(_.getString(0)).toSet
    val (p, _) = r.precisionRecall(passed, r.labels.keys)
    r.check("make-filter.precision", p >= PrecisionFloor, f"held-out precision $p%.3f < $PrecisionFloor")
  }

  def measure(): Unit = {
    val xs = r.window(op)
    val m = median(xs)
    r.metric("make_filter_s", m, "s", xs.length)
    r.metric("op_wall_s", m, "s", xs.length)
    r.note(s"best combination: ${bestLabel.getOrElse("none")}")
  }
}

/** `search-scan`: `Main.filterStars` with a fixed filter. */
final class Search(r: Run) extends Workload {
  import Harness._
  val filterName = "fixed"
  private var roundTripped = 0

  def touch(): Unit = r.queriedNames.size

  def prepare(): Unit =
    r.operation("make-filter") {
      Main.makeFilter(r.spark, r.settings, r.makeFilterOpts(filterName, "fixed.txt"))
    }

  /** One `Main.filterStars` into a fresh run directory (the status table's
    * resume anti-join would turn a reused one into a no-op), then its checks.
    */
  def op(i: Int): Option[Double] = r.operation("filter-stars") {
    val runName = s"run$i"
    val t0 = System.nanoTime()
    val runDir = Main.filterStars(r.spark, r.settings, r.filterStarsOpts(filterName, runName))
    val s = secondsSince(t0)
    checkRun(runDir)
    r.deleteTree(runDir)
    s
  }

  def checkRun(runDir: Path): Unit = {
    val spark = r.spark
    val named = r.queriedNames.toSet
    val status = spark.read.parquet(runDir.resolve("status").toString)
      .select("starId").collect().map(_.getString(0)).toSeq
    r.check("filter-stars.status", status.size == named.size && status.toSet == named,
      s"status has ${status.size} rows for ${named.size} named stars")
    val matched = spark.read.parquet(runDir.resolve("matched").toString)
    val matchedIds = matched.select("starId").collect().map(_.getString(0)).toSet
    val fits = {
      val s = Files.list(runDir.resolve("lcs"))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    r.check("filter-stars.fits", fits.size == matchedIds.size &&
      fits.map(_.stripSuffix(".fits")).toSet == matchedIds,
      s"${fits.size} FITS files for ${matchedIds.size} matched rows")
    // one FITS per run goes back through the reader
    if (fits.nonEmpty) {
      val f = fits.sorted.apply(roundTripped % fits.size)
      roundTripped += 1
      val back = Fits.readStar(Files.readAllBytes(runDir.resolve("lcs").resolve(f)))
      import spark.implicits._
      val row = matched.filter(col("starId") === back.starId).as[Star].collect()
      // the FITS tables are float32 (the reference layout)
      def f32(xs: Array[Double]) = xs.map(_.toFloat).toSeq
      val same = row.length == 1 && Seq[LightCurveData => Array[Double]](_.time, _.mag, _.err)
        .forall(c => f32(c(row(0).lightCurves.head)) == f32(c(back.lightCurves.head)))
      r.check("filter-stars.fits-roundtrip", same, s"$f does not read back as its matched row")
    }
    val (p, rc) = r.precisionRecall(matchedIds, named)
    r.check("filter-stars.precision", p >= PrecisionFloor, f"precision $p%.3f < $PrecisionFloor")
    r.check("filter-stars.recall", rc >= RecallFloor, f"recall $rc%.3f < $RecallFloor")
  }

  def measure(): Unit = {
    val xs = r.window(op)
    val m = median(xs)
    r.metric("search_stars_per_s", r.queriedNames.size / m, "stars/s", xs.length)
    r.metric("op_wall_s", m, "s", xs.length)
  }
}
