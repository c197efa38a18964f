package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** Executor work attributed by Spark job group. Every job a benchmark
  * thread submits carries the group it set (`<run>|<op>|<phase>`), so
  * the counts below are read per operation and per phase without any
  * hook inside the engine. */
final class ExecListener extends SparkListener {
  final class Acc {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val cpuNs = new AtomicLong
    val runMs = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val byGroup = new ConcurrentHashMap[String, Acc]

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    acc(g).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, ""))
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.runMs.addAndGet(m.executorRunTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Forget every count. The listener bus is asynchronous, so the
    * events of jobs already finished are delivered first: they must
    * not land in the next section's counts. */
  def reset(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    byGroup.clear()
    stageGroup.clear()
  }

  /** Sum over the groups accepted by `keep`. */
  def total(keep: String => Boolean): Map[String, Double] = {
    val as = byGroup.asScala.collect { case (g, a) if keep(g) => a }
    Map(
      "jobs" -> as.map(_.jobs.get).sum.toDouble,
      "stages" -> as.map(_.stages.get).sum.toDouble,
      "tasks" -> as.map(_.tasks.get).sum.toDouble,
      "task_cpu_s" -> as.map(_.cpuNs.get).sum / 1e9,
      "task_run_s" -> as.map(_.runMs.get).sum / 1e3,
      "shuffle_write_mb" -> as.map(_.shuffleWrite.get).sum / 1048576.0,
      "spill_mb" -> as.map(_.spill.get).sum / 1048576.0)
  }
}

/** In-memory span recorder for the traced run. Spans are recorded only
  * at the benchmark's own call boundaries (operation, construct or
  * compile, action, shared build) and written out once at the end. */
final class Tracer(val on: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val t0 = System.nanoTime()
  private val bookkeepingNs = new AtomicLong

  /** Run `body` inside a span; returns its result. Tracing off costs
    * only the call itself. */
  def span[T](name: String, parent: Long, attrs: => Map[String, Any] = Map.empty)(
      body: Long => T): T =
    if (!on) body(0L)
    else {
      val b0 = System.nanoTime()
      val id = nextId.getAndIncrement()
      val s = System.nanoTime()
      try body(id)
      finally {
        val e = System.nanoTime()
        spans.add(Json.obj(Map("id" -> id, "parent" -> parent, "name" -> name,
          "start_us" -> (s - t0) / 1000, "end_us" -> (e - t0) / 1000,
          "thread" -> Thread.currentThread().getName) ++ attrs))
        bookkeepingNs.addAndGet(s - b0 + System.nanoTime() - e)
      }
    }

  /** Time spent recording spans, summed over all threads. */
  def bookkeepingS: Double = bookkeepingNs.get / 1e9
  def count: Int = spans.size
  def write(path: String): Unit = if (on) {
    val p = java.nio.file.Paths.get(path).toAbsolutePath
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, spans.asScala.toSeq.asJava)
  }
}

/** Process-level counters read around a timed section. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val threads = ManagementFactory.getThreadMXBean

  def processCpuS: Double = os.getProcessCpuTime / 1e9
  def threadCpuS: Double = threads.getCurrentThreadCpuTime / 1e9
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Minimal JSON writer: the harness only emits numbers, strings,
  * booleans, maps and sequences. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** JSON text to Scala values: objects become Maps (document order is
    * kept for up to four keys, as in `Naqed.requestJson`), arrays
    * Seqs, integers Longs. */
  def parse(text: String): Any = toScala(mapper.readTree(text))
  private def toScala(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isObject) {
      val b = Map.newBuilder[String, Any]
      n.properties().forEach(e => b += (e.getKey -> toScala(e.getValue)))
      b.result()
    } else if (n.isArray) {
      val b = Seq.newBuilder[Any]
      n.elements().forEachRemaining(e => b += toScala(e))
      b.result()
    } else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isTextual) n.asText()
    else null
}

/** Driver-side digest of collected rows, reproduced exactly by
  * `perfbench/digest.py` (which digests the DuckDB expectations): each
  * row becomes a canonical string (struct fields sorted by name, array
  * elements sorted, floats replaced by a marker) whose md5 prefix is
  * summed mod 2^64. The digest is order-insensitive. Floating-point
  * values stay out of the exact part, so a different summation order in
  * the engine never reads as a wrong result: per path they are summed
  * plain, absolute, and weighted by a factor in [1, 2) from their row's
  * md5, so a value moved to another row still changes the digest. */
object Digest {
  def ofRows(rows: Array[Row]): Map[String, Any] = {
    var h = BigInt(0)
    val sums = scala.collection.mutable.TreeMap[String, (Double, Double, Double)]()
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      val fl = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      val d = md.digest(canon(r, "", fl).getBytes("UTF-8"))
      val p = java.nio.ByteBuffer.wrap(d, 0, 8).getLong
      h = (h + BigInt(1, d.take(8))) % (BigInt(1) << 64)
      val w = 1.0 + (p >>> 12).toDouble / (1L << 52).toDouble
      fl.foreach { case (path, x) =>
        val (a, b, c) = sums.getOrElse(path, (0.0, 0.0, 0.0))
        sums(path) = (a + x, b + math.abs(x), c + x * w)
      }
    }
    Map("n" -> rows.length, "h" -> h.toString(16),
      "f" -> sums.map { case (k, (a, b, c)) => k -> Seq(a, b, c) }.toMap)
  }

  private def canon(v: Any, path: String,
      fl: scala.collection.mutable.ArrayBuffer[(String, Double)]): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x @ (_: Byte | _: Short | _: Int | _: Long) => "I" + x.toString
    case x @ (_: Float | _: Double | _: java.math.BigDecimal | _: scala.math.BigDecimal) =>
      fl += path -> (x match {
        case f: Float => f.toDouble
        case d: Double => d
        case b: java.math.BigDecimal => b.doubleValue
        case b: scala.math.BigDecimal => b.toDouble
      })
      "D"
    case s: String => "S" + s
    case t: java.sql.Timestamp =>
      "T" + (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L)
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case r: Row =>
      r.schema.fieldNames.zipWithIndex.sortBy(_._1).map { case (n, i) =>
        n + "=" + canon(r.get(i), if (path.isEmpty) n else s"$path.$n", fl)
      }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) =>
        canon(k, path + "{}", fl) + ":" + canon(x, path + "{}", fl)
      }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] =>
      xs.map(canon(_, path + "[]", fl)).sorted.mkString("[", ",", "]")
    case other => "S" + other.toString
  }
}
