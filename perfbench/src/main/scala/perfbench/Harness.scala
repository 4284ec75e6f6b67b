package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.harvest.{HarvestJob, Store}

/** The JVM side of the benchmark: sets up one Spark session, then runs one
  * harvest workload in a closed loop (one client, runs back to back) for a
  * fixed number of seconds, through the program's public entry points.
  *
  *   harvest_full     week-0 bindings into a fresh, empty store per run
  *   harvest_refresh  week-1 bindings onto a copy of the week-0 store,
  *                    restored before every run
  *
  * Each run is one `HarvestJob.run` with the SQLite artifact on; on
  * refresh, `HarvestJob.run` without it and then `Store.writeSqliteArtifact`
  * (see `harvest` below). Untimed
  * between runs: store reset, artifact digest, `clearCache()` + GC. With
  * `trace=1` one more run is made with a [[Recorder]] listener attached
  * and a span around each public call (`HarvestJob.run` with the artifact
  * off, then `Store.writeSqliteArtifact`).
  *
  * Prints `PERFBENCH {json}` lines (setup, one per run, memory, trace,
  * environment) and keeps one artifact per distinct digest; run.py checks
  * outputs and reduces them to metrics.
  *
  * Usage: perfbench.Harness key=value ... with keys workload, work,
  * bindings0, bindings1, asOf0, asOf1, seconds, trace, cpus.
  */
object Harness {
  val Collection = "http://vocab.nerc.ac.uk/collection/P01/current/"

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    require(workload == "harvest_full" || workload == "harvest_refresh", s"unknown workload $workload")
    val work = Paths.get(opt("work")).toAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val asOf0 = Timestamp.valueOf(opt("asOf0"))
    val asOf1 = Timestamp.valueOf(opt("asOf1"))
    val refresh = workload == "harvest_refresh"

    val phases = mutable.ArrayBuffer[(String, Double)]()
    def phase(name: String): Unit =
      phases += name -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val spark = GraftSession.local(opt("cpus").toInt)
    phase("session")
    try {
      val base = work.resolve("base_store")
      if (refresh) {
        HarvestJob.run(spark, HarvestJob.Config(Collection, opt("bindings0"), base.toString, asOf0))
        phase("base_store")
      }
      val (bindings, asOf) = if (refresh) (opt("bindings1"), asOf1) else (opt("bindings0"), asOf0)

      /** Untimed: an empty or freshly restored store dir for the next run. */
      def freshStore(): Path = {
        val store = work.resolve("store")
        deleteTree(store)
        if (refresh) copyTree(base, store)
        work.resolve("translations.db").toFile.delete()
        store
      }
      def config(store: Path, artifact: Boolean) =
        HarvestJob.Config(Collection, bindings, store.toString, asOf,
          sqliteArtifact = if (artifact) Some(work.resolve("translations.db").toString) else None)
      /** One run of the workload. On refresh the export is its own call:
        * `HarvestJob.run` with the artifact on exports the pre-merge tables
        * when the store already holds rows, because its cached reads of the
        * old store answer the export's re-read of the same paths. */
      def harvest(store: Path): HarvestJob.Result =
        if (refresh) {
          val r = HarvestJob.run(spark, config(store, artifact = false))
          Store.writeSqliteArtifact(spark, store.toString, work.resolve("translations.db").toString)
          r
        } else HarvestJob.run(spark, config(store, artifact = true))
      def settle(): Unit = {
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200) // lets the ContextCleaner drop the previous run's blocks
        System.gc()
      }

      // Warm-up: two untimed runs of the workload, the first one cold, so
      // JIT and codegen caches are filled before the first timed run (on
      // refresh, building the base store was the cold run).
      for (_ <- 1 to (if (refresh) 1 else 2)) {
        harvest(freshStore())
        settle()
        phase("warm_up")
      }
      val phaseJson = phases.map { case (n, t) => s"""["$n",$t]""" }.mkString("[", ",", "]")
      emit(s"""{"kind":"setup","setup_s":${phases.last._2},"phases":$phaseJson}""")

      var measured = 0.0
      var k = 0
      while (measured < seconds) {
        val store = freshStore()
        val t0 = System.nanoTime()
        val outcome = scala.util.Try(harvest(store))
        val wall = (System.nanoTime() - t0) / 1e9
        emit(runLine(k, "timed", wall, outcome, store, work))
        measured += wall
        k += 1
        settle()
      }
      // the JVM's peak resident set so far (VmHWM): set-up and timed runs
      emit(s"""{"kind":"memory","peak_rss_mb":${procMb("/proc/self/status", "VmHWM")}}""")

      if (trace) {
        val rec = new Recorder
        spark.sparkContext.addSparkListener(rec)
        val spans = mutable.ArrayBuffer[Span]()
        def span[T](name: String)(f: => T): T = {
          val id = spans.size + 1
          spark.sparkContext.setLocalProperty(Recorder.SpanKey, id.toString)
          val s0 = Recorder.nowMs()
          try f
          finally {
            spans += Span(id, name, s0, Recorder.nowMs())
            spark.sparkContext.setLocalProperty(Recorder.SpanKey, null)
          }
        }
        val store = freshStore()
        val startMs = Recorder.nowMs()
        val t0 = System.nanoTime()
        val outcome = scala.util.Try {
          val r = span("harvest.HarvestJob.run")(HarvestJob.run(spark, config(store, artifact = false)))
          span("harvest.Store.writeSqliteArtifact")(
            Store.writeSqliteArtifact(spark, store.toString, work.resolve("translations.db").toString))
          r
        }
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(rec)
        emit(runLine(k, "traced", wall, outcome, store, work))
        emit(rec.report(spans.toSeq, wall, storeFilesSince(store, startMs)))
      }
      emit(envLine(spark))
    } finally spark.stop()
  }

  case class Span(id: Int, name: String, startMs: Double, endMs: Double)

  def emit(json: String): Unit = { println("PERFBENCH " + json); Console.out.flush() }

  def runLine(k: Int, mode: String, wall: Double, outcome: scala.util.Try[HarvestJob.Result],
              store: Path, work: Path): String = {
    val db = work.resolve("translations.db")
    val common = s""""kind":"run","mode":"$mode","k":$k,"run_s":$wall"""
    outcome match {
      case scala.util.Success(r) =>
        val counters = Seq("bindingsRead" -> r.bindingsRead, "validRows" -> r.validRows,
          "distinctTerms" -> r.distinctTerms, "termsInserted" -> r.termsInserted,
          "termsUpdated" -> r.termsUpdated, "fieldsInserted" -> r.fieldsInserted)
          .map { case (n, v) => s""""$n":$v""" }.mkString("{", ",", "}")
        val digest = sha256(db)
        val bytes = Files.size(db)
        // one artifact is kept per distinct digest, for run.py to inspect
        val kept = work.resolve(s"artifact-$digest.db")
        if (Files.exists(kept)) Files.delete(db) else Files.move(db, kept)
        s"""{$common,"result":$counters,"warnings":${r.warnings.size},""" +
          s""""digest":"$digest","sqlite_bytes":$bytes,"store_bytes":${treeBytes(store)}}"""
      case scala.util.Failure(e) =>
        db.toFile.delete()
        s"""{$common,"error":${jsonStr(e.toString)}}"""
    }
  }

  /** (files, bytes) of the store's data files modified at or after `sinceMs`. */
  def storeFilesSince(store: Path, sinceMs: Double): (Long, Long) = {
    val files = dataFiles(store).filter(p => Files.getLastModifiedTime(p).toMillis >= sinceMs.toLong)
    (files.size.toLong, files.map(Files.size).sum)
  }

  def dataFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }.toList finally s.close()
    }

  def treeBytes(root: Path): Long = dataFiles(root).map(Files.size).sum

  def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }

  /** A "key: value kB" field of a Linux /proc file, in MB; -1 if absent. */
  def procMb(file: String, key: String): Double =
    scala.util.Try {
      Files.readAllLines(Paths.get(file)).asScala
        .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    }.getOrElse(-1.0)

  /** CPU-only ruler: a fixed splitmix64 loop that reads no file, so it
    * measures the host's core speed without touching the page cache. */
  def rulerS(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    while (i < 150000000L) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    if (acc == 0x5DEECE66DL) System.err.println("ruler fold sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  def envLine(spark: SparkSession): String = {
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .map(jsonStr).mkString("[", ",", "]")
    val conf = spark.sparkContext.getConf
    s"""{"kind":"env","nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""master":${jsonStr(conf.get("spark.master"))},""" +
      s""""shuffle_partitions":${jsonStr(spark.conf.get("spark.sql.shuffle.partitions"))},""" +
      s""""jvm_flags":$flags,"java":${jsonStr(sys.props.getOrElse("java.version", "?"))},""" +
      s""""spark":${jsonStr(spark.version)},""" +
      s""""page_cache_mb":${procMb("/proc/meminfo", "Cached")},""" +
      s""""mem_available_mb":${procMb("/proc/meminfo", "MemAvailable")},""" +
      s""""ruler_s":${rulerS()}}"""
  }

  def jsonStr(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
