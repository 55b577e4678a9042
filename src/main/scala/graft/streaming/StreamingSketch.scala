package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.expressions.{KmvBuffer, KmvSketch, KvBuffer}

/** Pre-hashed sketch input: `key` is the group, `h` = splitmix64(member). */
final case class SketchInput(key: String, h: Long)

/** Quantile-sketch input: `h` = splitmix64(unique row key), `v` the
  * 1e-2-scaled integer value.
  */
final case class QuantileInput(key: String, h: Long, v: Long)

/** Per-batch quantile view: sample size and type-1 p50/p90 picks. */
final case class QuantileEstimate(key: String, n_sample: Long, p50: Long, p90: Long)

/** Persisted bottom-k (hash, value) sample, parallel arrays. */
final case class KvStateRow(hashes: Array[Long], values: Array[Long])

/** Top-k input: unique row `id`, exact-integer `score`. */
final case class TopKInput(key: String, id: Long, score: Long)

/** One ranked row per (key, batch, rank 1..k): the top list AFTER that
  * batch — the leaderboard surface.
  */
final case class TopKEntry(key: String, rank: Long, id: Long, score: Long)

/** Persisted per-key top list, ordered (score desc, id asc). */
final case class TopKState(ids: Array[Long], scores: Array[Long])

/** One estimate row per (key, micro-batch): the sketch's view after that
  * batch. `n_state` is the k-min set size (= exact distinct below fill).
  */
final case class SketchEstimate(key: String, est: Long, n_state: Long)

/** Persisted per-key state: the k-min set, unsigned ascending. */
final case class KmvStateRow(hashes: Array[Long])

/** Streaming twin of the q63 KMV distinct sketch — the unbounded-stream
  * member of the sketch family.
  *
  * A streaming `countDistinct` needs one state entry per key EVER SEEN —
  * O(stream), the state-store failure mode the engine's API deliberately
  * avoids (see dedupWithinWatermark's scaladoc). The KMV buffer is the
  * principled fix: O(k) longs per group FOREVER, no watermark eviction
  * needed because the state never grows past k — this operator runs for
  * months without a state-store compaction story.
  *
  * Prefix-parity contract (spec-asserted): the sketch state after batch i
  * is a pure function of the SET of members seen in batches 0..i — the
  * same merge-exactness behind q64's rollup — so each emitted estimate
  * equals the batch q63 aggregate over the stream's prefix, hash-exactly,
  * and the final estimate equals the batch run over the whole data.
  */
object StreamingSketch {

  def distinctEstimates(events: Dataset[SketchInput], k: Int): Dataset[SketchEstimate] = {
    implicit val outEnc = Encoders.product[SketchEstimate]
    implicit val stEnc = Encoders.product[KmvStateRow]
    implicit val keyEnc = Encoders.STRING
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[SketchInput], state: GroupState[KmvStateRow]) => {
          val buf = new KmvBuffer(k)
          state.getOption.foreach(_.hashes.foreach(buf.insert))
          it.foreach(e => buf.insert(e.h))
          val hs = new Array[Long](buf.set.size())
          val iter = buf.set.iterator()
          var i = 0
          while (iter.hasNext) { hs(i) = iter.next(); i += 1 }
          state.update(KmvStateRow(hs))
          val (est, _) = KmvSketch.estimate(buf)
          Iterator(SketchEstimate(key, est, hs.length.toLong))
        })
  }

  /** q65's quantile sketch on an unbounded stream — same O(k)-forever
    * state contract as [[distinctEstimates]], same prefix parity: the
    * bottom-k (hash, value) sample after batch i is a pure function of
    * the row set seen so far, so each emitted (p50, p90) equals the batch
    * `quantileSketch` aggregate over the prefix. Picks are the batch
    * eval's own ([[KvBuffer.quantiles]]).
    */
  def quantileEstimates(events: Dataset[QuantileInput], k: Int): Dataset[QuantileEstimate] = {
    implicit val outEnc = Encoders.product[QuantileEstimate]
    implicit val stEnc = Encoders.product[KvStateRow]
    implicit val keyEnc = Encoders.STRING
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[QuantileInput], state: GroupState[KvStateRow]) => {
          val buf = new KvBuffer(k)
          state.getOption.foreach { st =>
            var i = 0
            while (i < st.hashes.length) { buf.insert(st.hashes(i), st.values(i)); i += 1 }
          }
          it.foreach(e => buf.insert(e.h, e.v))
          val (hs, vs) = buf.sample
          state.update(KvStateRow(hs, vs))
          val (n, p50, p90) = buf.quantiles
          Iterator(QuantileEstimate(key, n, p50, p90))
        })
  }

  /** Streaming top-k per key — the q14 leaderboard contract on an
    * unbounded stream: a bounded per-key top list (score desc, id asc),
    * merged with each batch and re-emitted, so state is O(k) FOREVER
    * (the batch form's window sort has no streaming equivalent; a
    * streaming global rank would be O(stream) state). Prefix parity
    * (spec-asserted): the list after batch i equals the batch
    * `row_number() <= k` window over the stream's prefix — top-k of a
    * union is the top-k of (top-k ∪ new), the same containment argument
    * as the KMV merge.
    */
  def topKPerKey(events: Dataset[TopKInput], k: Int): Dataset[TopKEntry] = {
    implicit val outEnc = Encoders.product[TopKEntry]
    implicit val stEnc = Encoders.product[TopKState]
    implicit val keyEnc = Encoders.STRING
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[TopKInput], state: GroupState[TopKState]) => {
          val prev = state.getOption.getOrElse(TopKState(Array.empty, Array.empty))
          // Dedupe by id, keep the max score: an id re-sent in a later batch
          // (a re-scored leaderboard entry) must REPLACE its previous entry,
          // not occupy two ranks. The containment argument still holds under
          // per-id max — an id evicted from the state was beaten by k
          // distinct ids whose scores only ever grow, so its stale score can
          // never re-enter the true top-k — which makes the emitted list the
          // batch `row_number() <= k` over per-id max(score) of the whole
          // prefix (and identical to before under the unique-id contract).
          val all = (prev.ids.indices.map(i => (prev.ids(i), prev.scores(i))) ++
            it.map(e => (e.id, e.score)))
            .groupMapReduce(_._1)(_._2)(math.max)
            .toSeq
            .sortBy { case (id, sc) => (-sc, id) }
            .take(k)
          state.update(TopKState(all.map(_._1).toArray, all.map(_._2).toArray))
          all.iterator.zipWithIndex.map { case ((id, sc), i) =>
            TopKEntry(key, (i + 1).toLong, id, sc)
          }
        })
  }
}
