package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One timed operation of a pass. `kind` is "write" (pipe-tree writes,
  * index merge-publishes), "read" (batch queries and scans) or "fault"
  * (the benchmark's own on-disk fault injection, counted in the pass
  * wall time only). `layer` names the module whose public function the
  * op calls. */
final case class Op(name: String, kind: String, layer: String, run: () => Unit)

/** A workload: one-time set-up, the fixed op list of one pass, the
  * untimed reset that returns every pass to the same starting state,
  * the closed-loop probe, and the dump of outputs for the checker. */
trait Workload {
  def setup(): Unit
  def ops: Seq[Op]
  def afterPass(pass: Int): Unit
  def probe(i: Int): Unit
  def verify(out: String): Unit
  /** Bytes the workload's artifacts occupy on disk. */
  def storedBytes: Long
  /** Per-layer figures only the traced run measures (kernel
    * micro-benchmarks, extra single-layer calls), name -> value. */
  def tracedExtras(): Map[String, Double]
  /** The workload's per-layer metrics from the traced run: op medians
    * (seconds), the median Spark job count of an op per pass, and the job
    * count of any other tag (set-up steps tag their own jobs). */
  def layerMetrics(opMedian: Map[String, Double], opJobs: String => Double,
      tagJobs: String => Double): Map[String, Double]
}

/** Per-tag Spark counters from the listener bus. Tags ride the
  * `perfbench.tag` local property, so every job (and through its stages
  * every task) is charged to the op that submitted it. Block updates
  * carry no job, so they are charged to the tag of the latest job start:
  * ops run one at a time, and the bus delivers in order. */
final class Counters extends SparkListener {
  final class C {
    var jobs = 0L; var tasks = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L; var runMs = 0L; var cached = 0L
  }
  val byTag = TrieMap.empty[String, C]
  private val stageTag = TrieMap.empty[Int, String]
  @volatile private var lastTag = "untagged"

  private def c(tag: String): C = byTag.getOrElseUpdate(tag, new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Counters.Key))).getOrElse("untagged")
    lastTag = tag
    c(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val x = c(stageTag.getOrElse(e.stageId, lastTag))
    x.tasks += 1
    if (m != null) {
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      x.runMs += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid)
      c(lastTag).cached += i.memSize + i.diskSize
  }

  /** Sum of one counter over the tags `keep` accepts. */
  def sum(keep: String => Boolean)(f: C => Long): Long =
    byTag.iterator.filter(t => keep(t._1)).map(t => f(t._2)).sum
}

object Counters { val Key = "perfbench.tag" }

/** In-memory spans: name, start, end, parent and the id of the op they
  * belong to. Recording is a few object allocations per op, so a traced
  * pass differs from an untraced one by the listener and these appends. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: String, name: String,
      startNs: Long, var endNs: Long)
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = ""

  def withOp[T](opId: String)(body: => T): T = {
    val prev = op; op = opId
    try body finally op = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), op, name,
        System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }
}

object Util {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      val n = v.size
      if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
    }

  /** Bytes of every regular file under `dir` (sidecar checksums too:
    * they occupy the disk as well). */
  def duBytes(dir: String): Long = {
    val f = new java.io.File(dir)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(x => duBytes(x.getPath)).sum
  }

  def files(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.exists()) Seq.empty
    else if (f.isFile) Seq(f)
    else Option(f.listFiles()).toSeq.flatten.flatMap(x => files(x.getPath))
  }

  def rmrf(dir: String): Unit = {
    val f = new java.io.File(dir)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(x => rmrf(x.getPath))
    f.delete()
  }

  def saveRows(s: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Minimal JSON writer for the result file (numbers, strings, nested
    * maps and sequences). */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }
}
