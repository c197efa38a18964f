package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{SparkEntry, Tables}
import graft.api.Naqed
import graft.sources.VersionedTable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up, run one timed section of the
  * workload's generated operations, write the raw per-operation records
  * and layer counters as JSON for `perfbench/run.py`, which checks the
  * results and prints the metrics.
  *
  * Arguments: `<workload> <dataDir> <inputs.json> <out.json> <workDir>
  * <trace 0|1> <spans.jsonl>`. */
object Main {
  val Clients = 4

  /** One operation. `constructMs` is the query construction or request
    * compilation, `actionMs` the action that consumes the result; for a
    * mutation step `writeMs` is the write and the other two its read. */
  final case class Op(idx: Int, name: String, kind: String, latMs: Double,
      constructMs: Double, actionMs: Double, writeMs: Double, clientCpuS: Double,
      digest: Map[String, Any], error: Option[(String, String)],
      count: Option[Long], phasesMs: Map[String, Double],
      bytesWritten: Long, userBytes: Long) {
    def json: Map[String, Any] = Map("i" -> idx, "name" -> name, "kind" -> kind,
      "lat_ms" -> latMs, "construct_ms" -> constructMs, "action_ms" -> actionMs,
      "write_ms" -> writeMs,
      "client_cpu_s" -> clientCpuS, "digest" -> digest,
      "error" -> error.map { case (c, m) => Map("class" -> c, "message" -> m) },
      "count" -> count, "phases_ms" -> phasesMs,
      "bytes_written" -> bytesWritten, "user_bytes" -> userBytes)
  }

  /** What a run reports: set-up times, the timed section and, in a
    * traced run, the traced section with its spans and one more
    * untraced section after it. */
  final case class Outcome(setup: Map[String, Any], timed: Section,
      traced: Option[(Section, Tracer, Section)])

  /** Outcome of one timed section. */
  final case class Section(wallS: Double, cpuS: Double, gcS: Double,
      heapPeakMb: Double, cacheMb: Double, ops: Seq[Op],
      builds: Seq[Map[String, Any]], exec: Map[String, Map[String, Double]],
      extra: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, inputsPath, outPath, workDir, traceArg, spansPath) = args
    val inputs = Json.parse(new String(Files.readAllBytes(Paths.get(inputsPath)), "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    val trace = traceArg == "1"
    val t0 = System.nanoTime()
    val root = SparkSession.builder()
      .master(s"local[$Clients]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/local")
      .getOrCreate()
    root.sparkContext.setLogLevel("ERROR")
    val listener = new ExecListener
    root.sparkContext.addSparkListener(listener)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val h = new Harness(root, listener, dataDir, workDir)

    val Outcome(setups, timed, traced) = workload match {
      case "suite" => h.suite(inputs, sessionS, trace)
      case "requests" => h.requests(inputs, sessionS, trace)
      case "mutations" => h.mutations(inputs, sessionS, trace)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val tracer = traced.map(_._2)
    tracer.foreach(_.write(spansPath))
    def section(s: Section): Map[String, Any] = Map(
      "wall_s" -> s.wallS, "cpu_s" -> s.cpuS, "gc_s" -> s.gcS,
      "heap_peak_mb" -> s.heapPeakMb, "cache_mb" -> s.cacheMb,
      "ops" -> s.ops.map(_.json), "builds" -> s.builds, "exec" -> s.exec) ++ s.extra
    val out = Map(
      "workload" -> workload, "setup" -> setups, "timed" -> section(timed),
      "traced" -> traced.map(t => section(t._1)), "after" -> traced.map(t => section(t._3)),
      "spans" -> tracer.map(_.count).getOrElse(0))
    Files.write(Paths.get(outPath), Json.obj(out).getBytes("UTF-8"))
    root.stop()
  }
}

final class Harness(root: SparkSession, listener: ExecListener,
    dataDir: String, workDir: String) {
  import Main._

  private val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
  private val warehouse = Paths.get(workDir, "warehouse")
  private val mutRoot = s"$workDir/mutations"

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    scala.util.Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.toSeq
    }.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
  }

  /** Drop everything a previous section left behind, so the next one
    * starts cold: the shared Spark cache and persisted RDDs, the managed
    * tables in the shared catalog (bucketed source tables), the
    * format round-trip dirs and the mutation roots. The module caches
    * of the engine are keyed by session and start empty on the fresh
    * session each section opens. */
  def reset(): Unit = {
    root.catalog.clearCache()
    root.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    root.catalog.listTables("default").collect().filterNot(_.isTemporary)
      .foreach(t => root.sql(s"DROP TABLE IF EXISTS default.`${t.name}`"))
    if (Files.exists(tmpDir))
      scala.util.Using.resource(Files.list(tmpDir))(_.iterator().asScala.toSeq)
        .filter(_.getFileName.toString.startsWith("graft-")).foreach(deleteTree)
    deleteTree(Paths.get(mutRoot))
    if (Files.exists(warehouse)) {
      val left = scala.util.Using.resource(Files.list(warehouse))(_.iterator().asScala.toSeq)
      require(left.isEmpty, s"managed tables survived the reset: ${left.mkString(", ")}")
    }
    System.gc()
  }

  private def cacheMb(): Double =
    root.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  private def errorOf(t: Throwable): (String, String) = {
    val c = Option(t.getCause).filter(_ => t.isInstanceOf[java.util.concurrent.ExecutionException])
      .getOrElse(t)
    (c.getClass.getName,
      Option(c.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("").take(300))
  }

  private def phases(df: DataFrame): Map[String, Double] =
    try df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    catch { case _: Throwable => Map.empty }

  /** Time `body` as one timed section tagged `tag`: wall, process CPU,
    * GC, heap peak, cache size and the executor work of its jobs. */
  private def timedSection(tag: String)(body: => (Seq[Op], Seq[Map[String, Any]]))
      : Section = {
    System.gc()
    Jvm.resetPeaks()
    val cpu0 = Jvm.processCpuS
    val gc0 = Jvm.gcS
    val t0 = System.nanoTime()
    val (ops, builds) = body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Jvm.processCpuS - cpu0
    val gc = Jvm.gcS - gc0
    val heap = Jvm.heapPeakMb
    val cache = cacheMb()
    // the listener bus is asynchronous: wait for the tail events
    org.apache.spark.PerfbenchBus.drain(root.sparkContext)
    val exec = Seq("construct" -> "|c", "action" -> "|a", "build" -> "|b").map {
      case (k, suffix) => k -> listener.total(g => g.startsWith(tag + "|") && g.endsWith(suffix))
    }.toMap + ("all" -> listener.total(_ => true)) +
      ("unattributed" -> listener.total(g => !g.startsWith(tag + "|")))
    val perOp = ops.map { o =>
      val a = listener.total(_.startsWith(s"$tag|${o.idx}|"))
      s"${o.idx}" -> Seq(a("jobs"), a("tasks"), a("task_cpu_s"))
    }.toMap
    listener.reset(root.sparkContext)
    Section(wall, cpu, gc, heap, cache, ops, builds, exec, Map("per_op_exec" -> perOp))
  }

  private def setGroup(g: String): Unit = root.sparkContext.setJobGroup(g, g)

  /** Run `ops` on `Clients` closed-loop client threads; each takes the
    * next operation index when its previous one completes. */
  private def closedLoop(n: Int, clients: Int)(run: Int => Op): Seq[Op] = {
    val next = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(clients)
    try {
      val fs = (0 until clients).map { _ =>
        pool.submit(new Callable[Seq[Op]] {
          def call(): Seq[Op] = {
            root.sparkContext.setLocalProperty("spark.scheduler.pool",
              Thread.currentThread().getName)
            val b = Seq.newBuilder[Op]
            var i = next.getAndIncrement()
            while (i < n) { b += run(i); i = next.getAndIncrement() }
            root.sparkContext.clearJobGroup()
            b.result()
          }
        })
      }
      fs.flatMap(_.get()).sortBy(_.idx)
    } finally {
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }

  private val Off = new Tracer(false)

  /** The run shape every workload shares: three cold set-ups timed one
    * by one, the first followed by a warm-up on it (JIT and codegen), the
    * last serving the timed section; then the timed section, and in a
    * traced run a traced section and one more untraced section, each
    * over the same operations from the state `again` restores. The two
    * untraced sections bracket the traced one, so the JVM warming
    * between sections cancels out of the tracing overhead. */
  private def shape[C](sessionS: Double, trace: Boolean)(setup: String => C)(warmup: C => Unit)(
      again: C => C)(timed: (C, String, Tracer) => Section): Outcome = {
    var warmS = 0.0
    var ctx = null.asInstanceOf[C]
    val repeats = (0 until 3).map { k =>
      val t0 = System.nanoTime()
      ctx = setup(s"setup$k")
      val s = (System.nanoTime() - t0) / 1e9
      if (k == 0) {
        val w0 = System.nanoTime()
        warmup(ctx)
        warmS = (System.nanoTime() - w0) / 1e9
      }
      s
    }
    listener.reset(root.sparkContext)
    val sec = timed(ctx, "run", Off)
    val traced = if (!trace) None else {
      val tr = new Tracer(true)
      val c = again(ctx)
      listener.reset(root.sparkContext)
      val t = timed(c, "trace", tr)
      val withCost = t.copy(extra = t.extra + ("bookkeeping_s" -> tr.bookkeepingS))
      val c2 = again(c)
      listener.reset(root.sparkContext)
      Some((withCost, tr, timed(c2, "after", Off)))
    }
    Outcome(Map("session_s" -> sessionS, "warmup_s" -> warmS, "repeats_s" -> repeats),
      sec, traced)
  }

  // ---------------------------------------------------------------- suite

  /** The shared builds of the declared suite, in the same six
    * concurrent chains `graft.Bench` primes; each build is timed. */
  private def prime(spark: SparkSession, tag: String, tracer: Tracer, parent: Long)
      : Seq[Map[String, Any]] = {
    def t(n: String) = () => { Tables(spark, dataDir, n).count(); () }
    val chains: Seq[Seq[(String, () => Unit)]] = Seq(
      Seq("tables" -> t("lineitem"), "tables" -> t("orders"),
        "edges" -> (() => { Tables.edges(spark, dataDir); () })),
      Seq("bipartite" -> (() => { Tables.bipartite(spark, dataDir); () })),
      Seq("tables" -> t("documents"),
        "pipelines" -> (() => graft.ops.Pipelines.prime(spark, dataDir))),
      Seq("tables" -> t("embeddings"),
        "textsim" -> (() => graft.ops.TextSim.prime(spark, dataDir)), "tables" -> t("events")),
      Seq("region", "nation", "customer", "supplier", "part").map(n => "tables" -> t(n)),
      Seq("supplier" -> "csv", "customer" -> "json", "orders" -> "orc", "documents" -> "text")
        .map { case (n, f) =>
          "sources" -> (() => { graft.sources.Sources.via(spark, dataDir, n, f).count(); () })
        })
    val pool = Executors.newFixedThreadPool(chains.size)
    try {
      chains.zipWithIndex.map { case (chain, ci) =>
        pool.submit(new Callable[Seq[Map[String, Any]]] {
          def call(): Seq[Map[String, Any]] = {
            val c0 = System.nanoTime()
            val done = chain.map { case (name, build) =>
              setGroup(s"$tag|prime|$name|b")
              val b0 = System.nanoTime()
              val err = tracer.span("build", parent, Map("build" -> name, "chain" -> ci)) { _ =>
                try { build(); None } catch { case e: Throwable => Some(errorOf(e)) }
              }
              (name, (System.nanoTime() - b0) / 1e9, err)
            }
            root.sparkContext.clearJobGroup()
            val chainS = (System.nanoTime() - c0) / 1e9
            done.map { case (name, s, err) =>
              Map("build" -> name, "chain" -> ci, "s" -> s, "chain_s" -> chainS,
                "error" -> err.map { case (c, m) => Map("class" -> c, "message" -> m) })
            }
          }
        })
      }.flatMap(_.get())
    } finally pool.shutdown()
  }

  private def suitePass(spark: SparkSession, names: Seq[String], tag: String,
      tracer: Tracer): (Seq[Op], Seq[Map[String, Any]]) = {
    val queries = SparkEntry.queries
    val p0 = System.nanoTime()
    val builds = tracer.span("prime", 0) { id => prime(spark, tag, tracer, id) }
    val primeS = (System.nanoTime() - p0) / 1e9
    val ops = closedLoop(names.size, Clients) { i =>
      val name = names(i)
      val g = s"$tag|$i"
      setGroup(g + "|c")
      val cpu0 = Jvm.threadCpuS
      val t0 = System.nanoTime()
      var t1 = t0
      var digest = Map.empty[String, Any]
      var ph = Map.empty[String, Double]
      val err = tracer.span("op", 0, Map("op" -> name)) { id =>
        try {
          val fn = queries.getOrElse(name,
            throw new NoSuchElementException(s"no declared query '$name'"))
          val df = tracer.span("construct", id)(_ => fn(spark, dataDir))
          t1 = System.nanoTime()
          setGroup(g + "|a")
          val rows = tracer.span("action", id)(_ => df.collect())
          digest = Digest.ofRows(rows)
          ph = phases(df)
          None
        } catch { case e: Throwable => Some(errorOf(e)) }
      }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      Op(i, name, family(name), (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, 0.0,
        Jvm.threadCpuS - cpu0, digest, err, None, ph, 0L, 0L)
    }
    (ops, builds :+ Map("build" -> "prime", "chain" -> -1, "s" -> primeS, "chain_s" -> primeS))
  }

  /** Query family from the declared name's prefix. */
  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    val known = Set("agg", "ts", "pipeline", "graph", "dedup", "tpch", "sim", "sample",
      "join", "win")
    if (known(p)) p else "other"
  }

  /** The warm-up runs the shared builds once: a whole pass of the
    * queries would make a run longer than the benchmark's time budget
    * allows. */
  def suite(in: Map[String, Any], sessionS: Double, trace: Boolean): Outcome = {
    val names = in("order").asInstanceOf[Seq[Any]].map(_.toString)
    shape[SparkSession](sessionS, trace) { _ => reset(); root.newSession() } { spark =>
      prime(spark, "warm", Off, 0L)
    } { _ => reset(); root.newSession() } {
      (spark, tag, tracer) =>
      timedSection(tag)(suitePass(spark, names, tag, tracer))
    }
  }

  // ------------------------------------------------------------- requests

  private def requestOp(naqed: Naqed, tag: String, i: Int, name: String, json: String,
      tracer: Tracer): Op = {
    val g = s"$tag|$i"
    setGroup(g + "|c")
    val cpu0 = Jvm.threadCpuS
    val t0 = System.nanoTime()
    var t1 = t0
    var digest = Map.empty[String, Any]
    var ph = Map.empty[String, Double]
    val err = tracer.span("request", 0, Map("template" -> name)) { id =>
      try {
        val df = tracer.span("compile", id)(_ => naqed.requestJson(json))
        t1 = System.nanoTime()
        setGroup(g + "|a")
        val rows = tracer.span("execute", id)(_ => df.collect())
        digest = Digest.ofRows(rows)
        ph = phases(df)
        None
      } catch { case e: Throwable => Some(errorOf(e)) }
    }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    Op(i, name, name, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, 0.0,
      Jvm.threadCpuS - cpu0, digest, err, None, ph, 0L, 0L)
  }

  private def opsOf(in: Map[String, Any], key: String): Seq[Map[String, Any]] =
    in(key).asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])

  /** Set-up: fresh session, cached tables and EDGES; the warm-up runs
    * the warm-up requests on one such set-up. */
  def requests(in: Map[String, Any], sessionS: Double, trace: Boolean): Outcome = {
    val warmup = opsOf(in, "warmup")
    val ops = opsOf(in, "ops")
    def setup(tag: String): (Naqed, Seq[Map[String, Any]]) = {
      reset()
      val spark = root.newSession()
      setGroup(s"$tag|setup|b")
      def timed(name: String)(body: => Unit) = {
        val t0 = System.nanoTime()
        body
        val s = (System.nanoTime() - t0) / 1e9
        Map("build" -> name, "chain" -> 0, "s" -> s, "chain_s" -> s)
      }
      val builds = Seq(
        timed("tables")(Seq("region", "nation", "customer", "part", "orders", "lineitem")
          .foreach(n => Tables(spark, dataDir, n).count())),
        timed("edges")(Tables.edges(spark, dataDir)))
      root.sparkContext.clearJobGroup()
      (new Naqed(spark, dataDir), builds)
    }
    def run(naqed: Naqed, list: Seq[Map[String, Any]], tag: String, tracer: Tracer) =
      closedLoop(list.size, Clients) { i =>
        requestOp(naqed, tag, i, list(i)("t").toString, list(i)("json").toString, tracer)
      }
    shape[(Naqed, Seq[Map[String, Any]])](sessionS, trace)(setup) { c =>
      run(c._1, warmup, "warm", Off)
    }(_ => setup("again")) { case ((naqed, builds), tag, tracer) =>
      timedSection(tag)((run(naqed, ops, tag, tracer), builds))
    }
  }

  // ------------------------------------------------------------ mutations

  private def dirFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else scala.util.Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
    }

  /** The client's typed view of a generated mutation: JSON has no
    * timestamp type, so `o_orderdate` travels as ISO text. */
  private def typed(v: Any): Any = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].map {
      case ("o_orderdate", s: String) => "o_orderdate" -> java.sql.Timestamp.valueOf(s)
      case (k, x) => k -> typed(x)
    }
    case xs: Seq[_] => xs.map(typed)
    case x => x
  }

  private def mutationOp(spark: SparkSession, writer: Naqed, reader: Naqed, rootDir: String,
      mountDir: String, tag: String, i: Int, step: Map[String, Any], tracer: Tracer): Op = {
    val kind = step("kind").toString
    val write = step("write").toString
    val g = s"$tag|$i"
    val tableDir = Paths.get(rootDir, "orders")
    val before = dirFiles(tableDir)
    val cpu0 = Jvm.threadCpuS
    val t0 = System.nanoTime()
    var t1 = t0
    var tc = t0
    var digest = Map.empty[String, Any]
    var ph = Map.empty[String, Double]
    var n: Option[Long] = None
    val err = tracer.span("mutation", 0, Map("kind" -> kind)) { id =>
      try {
        setGroup(g + "|c")
        val q = typed(Json.parse(write)).asInstanceOf[Map[String, Any]]
        n = tracer.span("write", id)(_ => writer.mutateVersioned(q, rootDir)).get("~orders")
        t1 = System.nanoTime()
        setGroup(g + "|a")
        tracer.span("read", id) { rid =>
          val df = tracer.span("compile", rid) { _ =>
            Tables.mount(spark, mountDir, "orders",
              VersionedTable.read(spark, tableDir.toString))
            reader.requestJson(step("read").toString)
          }
          tc = System.nanoTime()
          val rows = tracer.span("execute", rid)(_ => df.collect())
          digest = Digest.ofRows(rows)
          ph = phases(df)
        }
        None
      } catch { case e: Throwable => Some(errorOf(e)) }
    }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    if (tc < t1) tc = t1
    val after = dirFiles(tableDir)
    val written = after.collect { case (f, s) if !before.contains(f) => s }.sum
    Op(i, kind, kind, (t2 - t0) / 1e6, (tc - t1) / 1e6, (t2 - tc) / 1e6, (t1 - t0) / 1e6,
      Jvm.threadCpuS - cpu0, digest, err, n, ph, written,
      write.getBytes("UTF-8").length.toLong)
  }

  /** Set-up: fresh session and a fresh versioned copy of `orders`; the
    * single client runs the generated steps against it. The warm-up runs
    * the warm-up steps on one such copy. */
  def mutations(in: Map[String, Any], sessionS: Double, trace: Boolean): Outcome = {
    val warmup = opsOf(in, "warmup")
    val steps = opsOf(in, "ops")
    final case class Ctx(spark: SparkSession, writer: Naqed, reader: Naqed, rootDir: String,
        mountDir: String)
    def fresh(spark: SparkSession, name: String): Ctx = {
      val rootDir = s"$mutRoot/$name"
      val mountDir = s"$rootDir#mount"
      VersionedTable.create(spark, s"$rootDir/orders", Tables(spark, dataDir, "orders"))
      // the reader's resolvers type-check against these at construction
      Tables.mount(spark, mountDir, "orders", VersionedTable.read(spark, s"$rootDir/orders"))
      Seq("customer", "documents")
        .foreach(n => Tables.mount(spark, mountDir, n, Tables(spark, dataDir, n)))
      Ctx(spark, new Naqed(spark, dataDir), new Naqed(spark, mountDir), rootDir, mountDir)
    }
    def timedOn(c: Ctx, tag: String, tracer: Tracer): Section = {
      val sec = timedSection(tag)((steps.indices.map { i =>
        mutationOp(c.spark, c.writer, c.reader, c.rootDir, c.mountDir, tag, i, steps(i), tracer)
      }, Nil))
      val files = VersionedTable.read(c.spark, s"${c.rootDir}/orders").inputFiles
      val bytes = files.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
      sec.copy(extra = sec.extra ++ Map("live_files" -> files.length,
        "table_mb" -> bytes / 1048576.0))
    }
    shape[Ctx](sessionS, trace) { tag => reset(); fresh(root.newSession(), tag) } { w =>
      warmup.zipWithIndex.foreach { case (s, i) =>
        mutationOp(w.spark, w.writer, w.reader, w.rootDir, w.mountDir, "warm", i, s, Off)
      }
    } { c =>
      deleteTree(Paths.get(c.rootDir))
      fresh(c.spark, "again")
    }(timedOn)
  }
}
