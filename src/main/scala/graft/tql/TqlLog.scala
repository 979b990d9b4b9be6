package graft.tql

import scala.collection.mutable.ArrayBuffer

/** Task log channel for TQL side effects — WHEN(doLog(…)), SCRIPT console
  * output, sub-routine warnings (reference: node.task.Log* feeding the
  * test harness's ExpectLog). Lines go to stderr; `capture` additionally
  * buffers them for assertions. */
object TqlLog {
  private val buf = new ThreadLocal[Option[ArrayBuffer[String]]] {
    override def initialValue(): Option[ArrayBuffer[String]] = None
  }
  private val levels = Seq("DEBUG", "INFO", "WARN", "ERROR")
  private val threshold = new ThreadLocal[Int] {
    override def initialValue(): Int = 0 // DEBUG
  }

  /** `#pragma log-level=warn` (task_test.go TestPragma): lines below the
    * threshold are dropped. */
  def setLevel(level: String): Unit =
    threshold.set(math.max(0, levels.indexOf(level.toUpperCase)))
  def levelIndex: Int = threshold.get
  def setLevelIndex(i: Int): Unit = threshold.set(i)

  def log(level: String, msg: String): Unit = {
    if (levels.indexOf(level.toUpperCase) < threshold.get) return
    val line = s"[$level] $msg"
    buf.get.foreach(_ += line)
    Console.err.println(line)
  }

  /** Run `f` collecting every log line emitted on this thread. */
  def capture[T](f: => T): (T, Seq[String]) = {
    val b = ArrayBuffer.empty[String]
    val prev = buf.get
    buf.set(Some(b))
    try { val r = f; (r, b.toSeq) } finally buf.set(prev)
  }
}

/** Bounded (partition, seq)-tagged line sample for distributed WHEN side
  * effects: executor tasks `add`, the driver re-emits `value` in stream
  * order ((partition, seq) sort after an orderBy(key) upstream). The cap
  * bounds driver traffic no matter how broad the WHEN predicate — the
  * accumulator still counts every match, so `suppressed` tells the
  * driver how many lines the cap dropped. Past the cap the sample keeps
  * the smallest (partition, seq) tags — the stream HEAD — regardless of task
  * completion order: each task buffers at most `cap` of its own rows
  * (adds arrive in ascending seq), and every merge re-truncates the
  * sorted union, so the emitted sample is deterministic. */
class WhenLogAcc(cap: Int)
    extends org.apache.spark.util.AccumulatorV2[(Int, Long, String), Seq[(Int, Long, String)]] {
  private val buf = ArrayBuffer.empty[(Int, Long, String)]
  private var total = 0L

  def suppressed: Long = synchronized(math.max(0L, total - buf.length))

  override def isZero: Boolean = synchronized(buf.isEmpty && total == 0L)
  override def copy(): WhenLogAcc = synchronized {
    val c = new WhenLogAcc(cap)
    c.buf ++= buf
    c.total = total
    c
  }
  override def reset(): Unit = synchronized { buf.clear(); total = 0L }
  override def add(v: (Int, Long, String)): Unit = synchronized {
    total += 1L
    if (buf.length < cap) buf += v
  }
  override def merge(
      other: org.apache.spark.util.AccumulatorV2[(Int, Long, String), Seq[(Int, Long, String)]]): Unit =
    other match {
      case o: WhenLogAcc =>
        val (obuf, ototal) = o.synchronized((o.buf.toSeq, o.total))
        synchronized {
          total += ototal
          buf ++= obuf
          if (buf.length > cap) {
            val kept = buf.sortBy(t => (t._1, t._2)).take(cap)
            buf.clear()
            buf ++= kept
          }
        }
      case _ =>
    }
  override def value: Seq[(Int, Long, String)] =
    synchronized(buf.sortBy(t => (t._1, t._2)).toSeq)
}
