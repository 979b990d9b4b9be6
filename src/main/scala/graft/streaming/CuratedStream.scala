package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.Curation

/** Streaming corpus intake: the batch curation gates (token bounds,
  * repetition, PII) applied on a Structured Streaming source, plus
  * near-real-time exact dedup.
  *
  * Design for scale:
  *   - the quality gates are pure codegen'd column expressions — they
  *     run inside the stream's stateless projection, no state at all;
  *   - exact dedup keys on the content md5 under a PROCESSING-time
  *     watermark (`dropDuplicatesWithinWatermark`), so state is bounded
  *     by the window and a re-sent historical document is still
  *     admitted once the window has passed — the same arrival-window
  *     model as the tag-ingest duplicate check
  *     ([[Watch.dedupWithin]]);
  *   - downstream is an ordinary append sink; nothing ever collects.
  */
object CuratedStream {

  /** Quality-gate + dedup a streaming document source. Emits the
    * original columns plus `n_tokens`; rejects too-short / too-long /
    * repetition-dominated texts; drops exact-content duplicates that
    * arrive within `dedupWindow` of the first copy. */
  def curate(stream: DataFrame, textCol: String,
             minTokens: Int, maxTokens: Int,
             maxDupWordFrac: Double, dedupWindow: String): DataFrame = {
    val text = col(textCol)
    stream
      .withColumn("n_tokens", Curation.tokenCount(text))
      .filter(col("n_tokens").between(minTokens, maxTokens) &&
        Curation.dupWordFrac(text) <= maxDupWordFrac)
      .withColumn("__content_md5", md5(text))
      .withColumn("__arrival", current_timestamp())
      .withWatermark("__arrival", dedupWindow)
      .dropDuplicatesWithinWatermark("__content_md5")
      .drop("__arrival", "__content_md5")
  }

  /** (key, id) admission record. */
  case class KeyId(key: String, id: Long)
  /** per-key admitted counter (public: encoder codegen needs the ctor) */
  case class QuotaN(n: Long)

  /** Per-key admission quota over the intake stream: at most `k`
    * documents per key (source/domain) EVER pass, counted across
    * micro-batch boundaries — the streaming form of the per-source cap.
    * State is one counter per key. Within a micro-batch rows are
    * admitted in ascending `idCol` order (deterministic for a bounded
    * replay); across batches admission is arrival-order, which is the
    * point of a quota. Emits the admitted (key, id) relation.
    *
    * STATE BOUND: the counter map grows with source cardinality —
    * unbounded source namespaces (per-URL, per-user) would grow state
    * forever under the default `stateTtl = None`, which is intended for
    * BOUNDED key sets (domains, feeds, tenants). For unbounded keys pass
    * `stateTtl` (e.g. "30 days"): a key idle past the TTL has its
    * counter evicted (ProcessingTimeTimeout, same protocol as
    * [[StatefulOps]]), and — by design — a source that reappears after
    * eviction re-admits up to `k` fresh documents: the quota becomes
    * "at most k per TTL window of activity", the usual crawler-politeness
    * semantics, trading exactness for bounded state. */
  def quotaAdmit(stream: DataFrame, keyCol: String, idCol: String,
                 k: Long, stateTtl: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.{Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val encI = Encoders.product[KeyId]
    implicit val encS = Encoders.product[QuotaN]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    stream.select(col(keyCol).cast("string").as("key"),
        col(idCol).cast("long").as("id")).as[KeyId]
      .groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (_: String, rows: Iterator[KeyId], state: GroupState[QuotaN]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val n = state.getOption.map(_.n).getOrElse(0L)
            val room = math.max(0L, k - n)
            val admit =
              if (room == 0) Vector.empty
              else rows.toSeq.sortBy(_.id).take(
                math.min(room, Int.MaxValue.toLong).toInt).toVector
            state.update(QuotaN(n + admit.size))
            stateTtl.foreach(state.setTimeoutDuration)
            admit.iterator
          }
      }
      .toDF(keyCol, idCol)
  }
}
