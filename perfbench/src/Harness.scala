package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{Cli, SparkEntry, Tables}
import graft.ccd.{Ccd, CcdOps}
import graft.pipeline.Classification
import graft.types.{ArdRow, AuxRow}

/** One benchmark run in a fresh JVM: set-up, a cold pass over the
  * workload's operation list, then warm passes until the run length is
  * spent. Writes a raw JSON record (per pass and operation: wall time,
  * output fold, landed bytes; with tracing, per-layer counters and
  * spans) for `perfbench/run.py` to reduce and check.
  *
  * Usage: graftbench.Harness --workload W --inputs DIR --work DIR
  *   --ops a,b,c --seconds S --trace 0|1 --record FILE
  *   [--min-warm N] [--chips C] [--trees T] [--dump DIR]
  */
object Harness {

  /** The CLI point whose tile the generated ARD covers. */
  val TileX = "-2565585"; val TileY = "3314805"

  final case class OpResult(fold: (Long, Long), facts: Map[String, Long],
      checkErrors: Seq[String])

  final case class Op(name: String, run: Int => OpResult, after: Int => OpResult => OpResult)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val inputs = a("inputs"); val work = a("work")
    val seconds = a("seconds").toDouble; val traced = a("trace") == "1"
    val minWarm = a("min-warm").toInt
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val opNames = a("ops").split(",").toSeq
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val bootMs = System.currentTimeMillis() - jvmStart

    // Set-up: build the session, open every input, touch the footers.
    val spark = session(cpus, work)
    touch(spark, workload, inputs)
    val sc = spark.sparkContext
    val ops = opNames.map(op(spark, inputs, work, a))

    // Traced passes also capture call sites deep enough to reach the graft
    // frame under spark.ml (Spark reads the depth at every job), so that cost
    // is part of the tracing overhead; untraced passes keep Spark's default.
    val trace = new Trace
    def tracing(on: Boolean): Unit =
      if (on) {
        System.setProperty("spark.callstack.depth", "64")
        sc.addSparkListener(trace); spark.listenerManager.register(trace)
      } else {
        sc.removeSparkListener(trace); spark.listenerManager.unregister(trace)
        System.clearProperty("spark.callstack.depth")
      }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val windows = mutable.ArrayBuffer.empty[(String, Long, Long)] // tag, start, end ms
    var liveHeap = 0L
    def pass(k: Int, on: Boolean): Double = {
      if (on) tracing(true)
      val t0 = System.nanoTime()
      val results = ops.map { o =>
        val tag = s"$workload/p$k/${o.name}"
        sc.setLocalProperty(Trace.TagKey, tag)
        val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
        val r = try Right(o.run(k)) catch { case e: Throwable => Left(e) }
        val wallS = (System.nanoTime() - n0) / 1e9
        if (on) windows += ((tag, s0, System.currentTimeMillis()))
        sc.setLocalProperty(Trace.TagKey, null)
        println(f"[graftbench] pass $k ${o.name} $wallS%.3f s" +
          r.left.toOption.map(e => s" FAILED: $e").getOrElse(""))
        (o, r, wallS)
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      if (on) { BusDrain(sc); tracing(false) }
      // Outside the timed window: post-run output checks, landed bytes, live heap.
      val opRecs = results.map { case (o, r, w) =>
        val checked = r.flatMap(x => try Right(o.after(k)(x)) catch { case e: Throwable => Left(e) })
        Map("name" -> o.name, "wall_s" -> w) ++ (checked match {
          case Right(x) => Map("ok" -> x.checkErrors.isEmpty, "errors" -> x.checkErrors,
            "fold" -> Seq(x.fold._1, x.fold._2), "facts" -> x.facts)
          case Left(e) => Map("ok" -> false, "errors" -> Seq(s"${e.getClass.getName}: ${e.getMessage}"))
        })
      }
      val sinkDir = new File(s"$work/products/p$k")
      val heap = liveSet()
      liveHeap = math.max(liveHeap, heap)
      passes += Map("k" -> k, "traced" -> on, "wall_s" -> wallS, "ops" -> opRecs,
        "sink_bytes" -> bytes(sinkDir), "sink_files" -> files(sinkDir),
        "store_bytes" -> storeBytes(work), "store_builds" -> storeBuilds(work),
        "live_heap_bytes" -> heap)
      wallS
    }

    val firstOpMs = System.currentTimeMillis()
    pass(0, traced)
    val warmStart = System.nanoTime()
    var k = 1
    // A traced run measures its tracing overhead in the same JVM: warm pass
    // 1 settles untraced, then whole blocks of four alternate ABBA (traced,
    // untraced, untraced, traced) and BAAB, so that traced and untraced
    // passes share their mean position (and, over two blocks, their mean
    // squared position): a linear or quadratic warm-up trend cancels.
    def blockOpen = traced && (k - 2) % 4 != 0
    def tracedPass(k: Int) = k >= 2 && (((k - 2) % 4 % 3 == 0) != ((k - 2) / 4 % 2 == 1))
    while (k <= minWarm || blockOpen || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      pass(k, traced && tracedPass(k))
      k += 1
    }

    // Direct calls and post-run checks, outside every timed pass.
    val direct = mutable.LinkedHashMap.empty[String, Any]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    if (workload == "ccdc_tile") {
      val ccdSample = sample(spark, inputs)
      direct("ccd_check") = ccdAgreement(spark, ccdSample, s"$work/products/p0/segment")
      if (traced) {
        val (usPixel, usObs, ccdSpans) = ccdDirect(ccdSample)
        direct("ccd.us_per_pixel") = usPixel; direct("ccd.us_per_obs") = usObs
        spans ++= ccdSpans
        val (trainMs, classifyMs, mlSpans) = mlDirect(spark, inputs, work, a)
        direct("ml.train_ms") = trainMs; direct("ml.classify_ms") = classifyMs
        spans ++= mlSpans
      }
    }

    a.get("dump").foreach(d => dump(spark, inputs, opNames, d))

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "traced" -> traced, "cpus" -> cpus,
      "stamp" -> Map("java" -> System.getProperty("java.version"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString),
      "setup" -> Map("boot_ms" -> bootMs, "setup_ms" -> (firstOpMs - jvmStart)),
      "passes" -> passes, "live_heap_bytes" -> liveHeap, "direct" -> direct)
    if (traced) {
      val (layers, traceSpans) = Layers(trace, windows.toSeq, cpus)
      record("layers") = layers
      spans ++= traceSpans
      Files.writeString(Paths.get(a("record") + ".spans.jsonl"),
        spans.map(Json.render).mkString("", "\n", "\n"))
    }
    Files.writeString(Paths.get(a("record")), Json.render(record) + "\n")
    spark.stop()
  }

  def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  private def touch(spark: SparkSession, workload: String, inputs: String): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    if (workload == "ccdc_tile") Seq("ard", "aux").foreach(t => spark.read.parquet(s"$inputs/$t").count())
    else Seq("documents", "embeddings", "events").foreach(t => Tables(spark, inputs, t).count())
  }

  private def op(spark: SparkSession, inputs: String, work: String,
      a: Map[String, String])(name: String): Op = {
    val noCheck: Int => OpResult => OpResult = _ => identity
    name match {
      case "changedetection" =>
        Op(name, k => {
          val cmd = Cli.parse(Seq("changedetection", "-x", TileX, "-y", TileY,
            "-n", a("chips"), "--ard", s"$inputs/ard", "--out", s"$work/products/p$k"))
          val counts = Cli.run(cmd.fold(e => sys.error(e), identity), spark)
          OpResult((0L, 0L), counts, Nil)
        }, k => r => {
          val segs = spark.read.parquet(s"$work/products/p$k/segment")
          val pixels = a("chips").toLong * 10000L
          val errs = Seq(
            Option.when(r.facts("chips") != a("chips").toLong)(s"chips ${r.facts("chips")}"),
            Option.when(r.facts("pixels") != pixels)(s"pixels ${r.facts("pixels")} != $pixels"),
            Option.when(r.facts("segments") < pixels)(s"segments ${r.facts("segments")} < pixels")
          ).flatten
          val eligible = segs.filter(col("sday") > CcdOps.ordinalToIso(1)).count()
          r.copy(fold = Fold(segs), facts = r.facts + ("eligible" -> eligible), checkErrors = errs)
        })
      case "classification" =>
        Op(name, k => {
          val cmd = Cli.parse(Seq("classification", "-x", TileX, "-y", TileY,
            "-s", "1", "-e", "800000", "--aux", s"$inputs/aux",
            "--segments", s"$work/products/p$k/segment", "--out", s"$work/products/p$k",
            "--trees", a("trees")))
          OpResult((0L, 0L), Cli.run(cmd.fold(e => sys.error(e), identity), spark), Nil)
        }, k => r => {
          val preds = spark.read.parquet(s"$work/products/p$k/prediction")
          val eligible = spark.read.parquet(s"$work/products/p$k/segment")
            .filter(col("sday") > CcdOps.ordinalToIso(1)).count()
          val errs = Option.when(r.facts("predictions") != eligible)(
            s"predictions ${r.facts("predictions")} != eligible segments $eligible").toSeq
          r.copy(fold = Fold(preds), checkErrors = errs)
        })
      case prefix =>
        val full = SparkEntry.queries.keys.filter(_.startsWith(prefix + "_")).toSeq match {
          case Seq(one) => one
          case other => sys.error(s"operation '$prefix' matches ${other.mkString(",")}")
        }
        val fn = SparkEntry.queries(full)
        Op(prefix, _ => OpResult(Fold(fn(spark, inputs)), Map.empty, Nil), noCheck)
    }
  }

  /** Dump one pass's outputs of the registered queries for the oracle
    * compare (the graft.Verify layout). */
  def dump(spark: SparkSession, inputs: String, ops: Seq[String], out: String): Unit = {
    new File(out).mkdirs()
    val oracle = ops.flatMap { p =>
      SparkEntry.queries.keys.find(_.startsWith(p + "_")).map { full =>
        SparkEntry.queries(full)(spark, inputs).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$p")
        p -> SparkEntry.oracleSql.get(full)
      }
    }.toMap
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.render(oracle))
  }

  // ------------------------------------------------------------------ ccd

  private def sample(spark: SparkSession, inputs: String): Array[ArdRow] = {
    import spark.implicits._
    spark.read.parquet(s"$inputs/ard").as[ArdRow]
      .orderBy(col("cx"), col("cy"), col("py").desc, col("px")).limit(256).collect()
  }

  private def bandsOf(r: ArdRow): Array[Array[Int]] =
    Array(r.blues, r.greens, r.reds, r.nirs, r.swir1s, r.swir2s, r.thermals).map(_.toArray)

  /** The distributed pipeline must land, for every sampled pixel, the
    * segments a direct single-threaded `Ccd.detect` call produces. */
  private def ccdAgreement(spark: SparkSession, rows: Array[ArdRow], segPath: String): Map[String, Any] = {
    import spark.implicits._
    val direct = rows.map { r =>
      val res = Ccd.detect(r.dates.toArray, bandsOf(r), r.qas.toArray)
      (r.px, r.py) -> CcdOps.format(r, res).map(s => (s.sday, s.eday, s.bday)).sorted
    }.toMap
    val keys = rows.map(r => (r.px, r.py)).toSeq.toDF("px", "py")
    val landed = spark.read.parquet(segPath).join(keys, Seq("px", "py"), "left_semi")
      .select("px", "py", "sday", "eday", "bday").as[(Int, Int, String, String, String)]
      .collect().groupBy(t => (t._1, t._2))
      .map { case (key, xs) => key -> xs.map(t => (t._3, t._4, t._5)).toSeq.sorted }
    val bad = direct.count { case (key, segs) => landed.getOrElse(key, Nil) != segs }
    Map("pixels" -> rows.length, "mismatched" -> bad,
      "segments" -> direct.values.map(_.size).sum)
  }

  private def ccdDirect(rows: Array[ArdRow]): (Double, Double, Seq[Map[String, Any]]) = {
    val inputs = rows.map(r => (r.dates.toArray, bandsOf(r), r.qas.toArray))
    val obs = inputs.map(_._1.length).sum
    val rounds = (1 to 7).map { i =>
      val s = System.currentTimeMillis(); val t0 = System.nanoTime()
      inputs.foreach { case (d, b, q) => Ccd.detect(d, b, q) }
      (s, (System.nanoTime() - t0) / 1e3)
    }
    val med = rounds.map(_._2).sorted.apply(rounds.length / 2)
    val spans = rounds.map { case (s, us) =>
      Map("kind" -> "direct", "name" -> "ccd.detect", "layer" -> "ccd",
        "start" -> s, "end" -> (s + (us / 1000).toLong), "pixels" -> rows.length)
    }
    (med / rows.length, med / obs, spans)
  }

  private def mlDirect(spark: SparkSession, inputs: String, work: String,
      a: Map[String, String]): (Double, Double, Seq[Map[String, Any]]) = {
    import spark.implicits._
    val aux = spark.read.parquet(s"$inputs/aux").as[AuxRow]
    val segs = spark.read.parquet(s"$work/products/p0/segment")
    val (x, y) = (TileX.toDouble, TileY.toDouble)
    def timed[T](name: String)(f: => T): (T, Map[String, Any]) = {
      val s = System.currentTimeMillis(); val v = f
      (v, Map("kind" -> "direct", "name" -> name, "layer" -> "ml",
        "start" -> s, "end" -> System.currentTimeMillis()))
    }
    val (model, trainSpan) = timed("Classification.trainForTile")(
      Classification.trainForTile(spark, aux, segs, x, y, 1, 800000, a("trees").toInt).get)
    val (_, classifySpan) = timed("Classification.classifyTile")(
      Fold(Classification.classifyTile(model, aux, segs, x, y)))
    def ms(s: Map[String, Any]) = (s("end").asInstanceOf[Long] - s("start").asInstanceOf[Long]).toDouble
    (ms(trainSpan), ms(classifySpan), Seq(trainSpan, classifySpan))
  }

  /** Heap in use after full collections, once Spark's ContextCleaner has
    * released what the previous collection made unreachable (broadcasts,
    * checkpointed blocks): collect until two readings agree within 1 MB. */
  private def liveSet(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed }
    var prev = collect(); var cur = collect(); var n = 2
    while (math.abs(cur - prev) > (1L << 20) && n < 8) { prev = cur; cur = collect(); n += 1 }
    cur
  }

  // ------------------------------------------------------------ landed bytes

  private def walk(f: File): Seq[File] =
    if (!f.exists()) Nil
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else Seq(f)

  /** Data files only: Spark's .crc and _SUCCESS markers are not product bytes. */
  private def dataFiles(f: File): Seq[File] =
    walk(f).filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_"))
  private def bytes(f: File): Long = dataFiles(f).map(_.length).sum
  private def files(f: File): Int = dataFiles(f).length

  private def storeRoots(work: String): Seq[File] =
    Option(new File(s"$work/tmp").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_store_")) :+ new File(s"$work/warehouse")
  private def storeBytes(work: String): Long = storeRoots(work).map(bytes).sum
  private def storeBuilds(work: String): Int =
    storeRoots(work).flatMap(r => Option(r.listFiles()).toSeq.flatten).count(_.isDirectory)
}
