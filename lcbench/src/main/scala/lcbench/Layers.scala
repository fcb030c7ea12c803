package lcbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.Main
import graft.functions.Kernels
import graft.ml._
import graft.model.Star
import graft.sources.{ConfigParsers, FileManagerConnector, Fits, StarsProvider}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The traced run's per-layer suite. Each step calls one layer's public
  * functions on this workload's inputs inside a span and a job group, so
  * wall time comes from the span and Spark work from [[Probe]]. Every
  * workload runs every step, so every per-layer metric is measured in every
  * traced run; the untraced run never reaches this class.
  */
final class Layers(r: Run, w: Workload) {
  import Harness._

  private val probe = new Probe
  private def spark = r.spark

  /** Time `body` as span `name` of `layer`, under job group `name`. */
  def timed[A](name: String, layer: String)(body: => A): (A, Double) = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val a = try r.tracer.span(name, layer)(body) finally sc.clearJobGroup()
    val s = secondsSince(t0)
    Probe.drain(spark)
    (a, s)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Spark counters of group `g` as metrics `prefix.*`. */
  def sparkMetrics(prefix: String, g: String, wall: Double): Unit = {
    val s = probe.get(g)
    r.metric(s"$prefix.jobs", s.jobs.toDouble, "count")
    r.metric(s"$prefix.tasks", s.tasks.toDouble, "count")
    r.metric(s"$prefix.executor_cpu_s", s.cpuS, "s")
    r.metric(s"$prefix.shuffle_bytes", s.shuffleBytes.toDouble, "B")
    r.metric(s"$prefix.spill_bytes", s.spillBytes.toDouble, "B")
    r.metric(s"$prefix.planning_s", s.planningS, "s")
    r.metric(s"$prefix.busy_frac", s.runS / (wall * r.o.cores), "frac")
  }

  def run(): Unit = {
    probe.install(spark)
    lifecycle()
    probe.remove(spark)
    overhead()
    probe.install(spark)
    operators()
    val self = r.tracer.selfSeconds
    Seq("sources", "functions", "ml", "main", "operators").foreach(l =>
      r.metric(s"trace.self_s.$l", self.getOrElse(l, 0.0), "s"))
    r.tracer.write(r.o.out + ".spans.jsonl")
  }

  /** Untraced and traced operations in the order plain, traced, traced,
    * plain, after one more warm-up, so a JIT still speeding up does not
    * bias either side; the ratio of the medians is the tracing overhead.
    */
  def overhead(): Unit = {
    w.op(1000)
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    def tracedOp(i: Int): Unit = {
      probe.install(spark)
      timed("trace.op", "trace")(w.op(i))._1.foreach(traced += _)
      probe.remove(spark)
      Probe.drain(spark)
    }
    w.op(1001).foreach(plain += _)
    tracedOp(1002)
    tracedOp(1003)
    w.op(1004).foreach(plain += _)
    r.metric("trace.overhead_frac", median(traced.toSeq) / median(plain.toSeq) - 1, "frac",
      traced.length)
  }

  def lifecycle(): Unit = {
    val settings = r.settings
    // sources: the two training samples
    val ((searched, others), loadS) = timed("sources.sample_load", "sources") {
      val s = r.sample(r.meta("searched")).cache()
      val c = r.sample(r.meta("contamination")).cache()
      s.count(); c.count()
      (s, c)
    }
    r.metric("sources.sample_load_s", loadS, "s")

    // ml: one decider per learn with the fixed filter's descriptors, then
    // the statistic of all four
    def fixedDescriptors = combos("fixed.txt").head.descriptors
    for (d <- Deciders) {
      val (_, s) = timed(s"ml.learn.$d", "ml") {
        new StarsFilter(fixedDescriptors, Seq(Registry.decider(d, Map.empty))).learn(searched, others)
      }
      r.metric(s"ml.learn_s.$d", s, "s")
    }
    val all = new StarsFilter(fixedDescriptors, combos("fixed.txt").head.deciders)
      .learn(searched, others)
    val (_, statS) = timed("ml.statistic", "ml")(all.getStatistic(searched, others).collect())
    r.metric("ml.statistic_s", statS, "s")

    // ml: the grid search make-filter runs, over the same tuning file
    val grid = combos("grid.txt")
    val ((best, _), gridS) = timed("ml.grid_fit", "ml") {
      new ParamsEstimator(searched, others, grid).fit()
    }
    val g = probe.get("ml.grid_fit")
    r.metric("ml.grid_fit_s", gridS, "s")
    r.metric("ml.grid.jobs_per_combo", g.jobs.toDouble / grid.length, "count")
    r.metric("ml.grid.tasks", g.tasks.toDouble, "count")
    r.metric("ml.grid.scheduler_delay_s", g.schedDelayS, "s")
    r.metric("ml.grid.busy_frac", g.runS / (gridS * r.o.cores), "frac")
    searched.unpersist(); others.unpersist()

    // main: filter persistence; the search steps use the workload's own
    // fixed filter where it has one, else the grid's best
    val filterName = w match { case s: Search => s.filterName; case _ => "traced" }
    val filterPath = Paths.get(settings.filters, filterName, s"$filterName.filter").toString
    val (model, serS) = timed("main.filter_serialize", "main") {
      if (!Files.exists(Paths.get(filterPath))) FilterSerializer.save(best.model, filterPath)
      val m = FilterSerializer.load(filterPath)
      FilterSerializer.save(m, filterPath)
      FilterSerializer.load(filterPath)
    }
    r.metric("main.filter_serialize_s", serS, "s")
    search(model, filterName)
  }

  /** The tuning rows of `file` as combinations, built as `Main.makeFilter`
    * builds them (fresh descriptor and decider instances on every call).
    */
  def combos(file: String): Seq[TuneCombination] = {
    val rows = ConfigParsers.readQueryFile(spark, Paths.get(r.settings.tunParams, file).toString)
    val flat = rows.collect().toSeq.map(row =>
      rows.columns.zipWithIndex.map { case (c, i) => c -> row.getString(i) }.toMap)
    ConfigParsers.parseTunQuery(flat).zipWithIndex.map { case (byClass, i) =>
      TuneCombination(s"combo_$i",
        Descriptors.split(",").toSeq.map(n => Registry.descriptor(n, byClass.getOrElse(n, Map.empty))),
        Deciders.map(n => Registry.decider(n, byClass.getOrElse(n, Map.empty))))
    }
  }

  /** Fixed work of the single-threaded loops: star encodings of
    * `Fits.writeStar` and light-curve points through the kernels.
    */
  val FitsWrites = 1000L
  val KernelPoints = 150000L

  def search(model: StarsFilterModel, filterName: String): Unit = {
    val settings = r.settings
    val qDf = ConfigParsers.readQueryFile(spark, Paths.get(settings.queries, "search.txt").toString)
    val cols = qDf.columns
    val queries = qDf
      .withColumn("params", map_from_arrays(array(cols.map(lit): _*), array(cols.map(col): _*)))
      .withColumn("query_id", concat(lit("q"), md5(to_json(col("params")))))
      .select(col("query_id"), col("params"))
    val todo = {
      val s = spark
      import s.implicits._
      queries.as[(String, Map[String, String])].collect().toSeq
    }
    val fm = StarsProvider.getProvider("FileManager").asInstanceOf[FileManagerConnector]

    val (_, fetchS) = timed("sources.fetch", "sources")(noop(fm.getStarsDatJoined(spark, todo)))
    val f = probe.get("sources.fetch")
    r.metric("sources.fetch_s", fetchS, "s")
    r.metric("sources.fetch.tasks", f.tasks.toDouble, "count")
    r.metric("sources.fetch.executor_cpu_s", f.cpuS, "s")
    r.metric("sources.fetch.planning_s", f.planningS, "s")

    // ml: descriptors and scoring over cached fetched stars
    val fetched = fm.getStarsDatJoined(spark, todo).cache()
    fetched.count()
    val (_, descrS) = timed("ml.descriptors", "ml")(
      noop(new StarsFilter(model.descriptors, Nil).spaceCoordinates(fetched)))
    r.metric("ml.descriptors_s", descrS, "s")
    val (_, scoreS) = timed("ml.score", "ml")(noop(model.getAllPredictions(fetched)))
    r.metric("ml.score_s", scoreS, "s")
    val curves = {
      val s = spark
      import s.implicits._
      fetched.select(col("lightCurves").getItem(0).as("lc")).select("lc.time", "lc.mag", "lc.err")
        .as[(Array[Double], Array[Double], Array[Double])].collect().toSeq
    }
    fetched.unpersist()

    // ml: the searcher alone, then main: the CLI call around it, on the
    // same queries into fresh directories; alternated, fastest of each
    val results = Paths.get(settings.results)
    val rounds = (0 until 2).map { i =>
      val (_, searchS) = timed(s"ml.search.$i", "ml") {
        val dir = results.resolve(s"traced-search-$i")
        new StarsSearcher(model, "FileManager", dir.resolve("matched").toString,
          dir.resolve("status").toString).queryStars(spark, queries)
      }
      r.deleteTree(results.resolve(s"traced-search-$i"))
      val g = s"main.filter_stars.$i"
      val (runDir, fsS) = timed(g, "main") {
        Main.filterStars(spark, settings, r.filterStarsOpts(filterName, s"traced-filter-stars-$i"))
      }
      (searchS, fsS, runDir, readAmplification(probe.get(g)))
    }
    val searchS = rounds.map(_._1).min
    r.metric("ml.search_s", searchS, "s", rounds.length)
    r.metric("main.fits_sink_s", rounds.map(_._2).min - searchS, "s", rounds.length)
    r.metric("sources.read_amplification", rounds.map(_._4).max, "ratio", rounds.length)
    val runDir = rounds.last._3

    // sources: FITS encoding of the matched stars, single-threaded
    val matched = {
      val s = spark
      import s.implicits._
      s.read.parquet(runDir.resolve("matched").toString).as[Star].collect().toSeq
    }
    val (us, _) = timed("sources.fits_write", "sources")(perItem(FitsWrites) {
      matched.foreach(Fits.writeStar); matched.length
    })
    r.metric("sources.fits_write_us_per_star", us * 1e6, "us/star")

    // functions: the per-curve kernels, single-threaded, at the filter's
    // variogram resolution
    val daysPerBin = model.descriptors.collectFirst { case v: VariogramSlopeDescr => v.daysPerBin }
      .getOrElse(20.0)
    val (ns, _) = timed("functions.kernels", "functions")(perItem(KernelPoints) {
      var points = 0L
      curves.foreach { case (t, m, e) =>
        Kernels.cleanLc(t, m, e)
        Kernels.curveAbbe(t, m, None)
        Kernels.skewness(m)
        Kernels.kurtosis(m)
        Kernels.variogramSlope(t, m, daysPerBin)
        points += t.length
      }
      points
    })
    r.metric("functions.ns_per_point", ns * 1e9, "ns/point")
    rounds.foreach(x => r.deleteTree(x._3))
  }

  /** Run `body` (one pass, returning its item count) until at least
    * `items` items are done; seconds per item. The amount of work is fixed,
    * not the time, so the enclosing span's length is what the program costs.
    * A pass of no items ends the loop with a non-finite result.
    */
  def perItem(items: Long)(body: => Long): Double = {
    val t0 = System.nanoTime()
    var done = 0L
    var last = -1L
    while (done < items && last != 0) { last = body; done += last }
    secondsSince(t0) / done
  }

  /** `.dat` bytes the scan tasks read ÷ bytes of the queried files. Each
    * scan partition is one file, planned in star-name order.
    */
  def readAmplification(g: GroupStats): Double = {
    val archive = Paths.get(r.o.inputs, "archive")
    val planned = r.queriedNames.distinct.sorted.map(n => Files.size(archive.resolve(n + ".dat")))
    val read = g.scanTasks.map(planned).sum
    read.toDouble / planned.sum
  }

  /** The six heavy `SparkEntry` operator queries on the bundled corpus, in
    * a seeded order. The first run of each is the first touch: building the
    * DataFrame builds the persisted q57/q145 indexes. It collects the result,
    * is timed as `operators.<q>_first_s` with its Spark counters, and is
    * checked against the row count and hash recorded next to the benchmark.
    * The second run, to the noop sink, serves the built indexes and is timed
    * as `operators.<q>_s`.
    */
  def operators(): Unit = {
    val expected = Expected.load(r.o.expected)
    val order = new scala.util.Random(r.o.seed).shuffle(DriverQueries)
    for (q <- order) {
      def query = graft.SparkEntry.queries(q)(spark, r.o.corpus)
      r.operation(q) {
        val g = s"operators.$q.first"
        val (rows, firstS) = timed(g, "operators")(query.collect().toSeq)
        val f = probe.get(g)
        r.metric(s"operators.${q}_first_s", firstS, "s")
        r.metric(s"$g.jobs", f.jobs.toDouble, "count")
        r.metric(s"$g.tasks", f.tasks.toDouble, "count")
        r.metric(s"$g.executor_cpu_s", f.cpuS, "s")
        val (n, h) = (rows.length.toLong, RowHash.of(rows))
        expected.get(q) match {
          case Some((en, eh)) => r.check(s"$q.result", n == en && h == eh,
            s"rows=$n hash=$h, recorded rows=$en hash=$eh")
          case None => r.fail(s"$q.result", s"no recorded result (rows=$n hash=$h)")
        }
      }
      val (_, s) = timed(s"operators.$q", "operators")(noop(query))
      r.metric(s"operators.${q}_s", s, "s")
      sparkMetrics(s"operators.$q", s"operators.$q", s)
    }
    r.metric("driver_mix_s", order.map(q => r.metrics(s"operators.${q}_s")._1).sum, "s")
  }
}
