package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.BandLsh
import graft.operators.BandLsh.{HammingBandBits => BandBits, HammingBands => NBands}

/** A document event on the dedup stream: unique `doc_id`, event time (so
  * watermarks apply), and the 64-bit similarity fingerprint (d03's simhash
  * or m06's frame aHash — any fingerprint whose near-duplicates sit at
  * small hamming distance).
  */
final case class SimDocEvent(doc_id: Long, ts: Timestamp, sig: Long)

/** An emitted near-dup pair: ids oriented a < b, exact hamming distance,
  * and the (lowest matching) band that produced it.
  */
final case class NearDupPair(a: Long, b: Long, hamming: Int, band: Int)

/** Banded stream row: `bucket` packs (band index, 16-bit chunk value);
  * `ts` stays a Timestamp so the input's watermark survives the banding
  * (a typed flatMap would serialize it away and EventTimeTimeout would
  * reject the plan).
  */
final case class BandedSimDoc(bucket: Long, doc_id: Long, ts: Timestamp, sig: Long)

/** Per-bucket state: docs seen within the horizon, parallel arrays. */
final case class DedupBucketState(ids: Array[Long], tsMs: Array[Long], sigs: Array[Long])

/** The streaming FUZZY-dedup gate — the near-dup twin of
  * `IncrementalStream.dedupWithinWatermark` (which is exact-PK only), and
  * the streaming member of the d03/m07 banding family.
  *
  * A corpus ingest pipeline wants to reject near-duplicate documents AT
  * ARRIVAL, not in a nightly batch pass. Batch banding (d03/m07) answers
  * "which pairs exist"; this operator answers it continuously: each
  * arriving fingerprint is banded into d03's 4×16-bit chunk buckets
  * (pigeonhole-exact for hamming ≤ 3 — three flips cannot touch all four
  * chunks), compared against the bucket's recent members, and near-dup
  * pairs are emitted as they form.
  *
  * Bounded state is the contract (the SURVEY rule: no streaming state may
  * grow with the stream): each bucket holds only docs within `horizonMs`
  * behind the WATERMARK — O(arrival-rate × (horizon + allowed lateness))
  * total, never O(stream); any on-time arrival (ts ≥ watermark) therefore
  * still sees every in-horizon partner — and idle buckets are cleared by
  * event-time timeout once
  * the watermark passes their horizon. A pair is emitted iff the two
  * docs' event times differ by ≤ `horizonMs` (the emission filter makes
  * the horizon EXACT; state pruning merely bounds memory). This is
  * deliberate dedup-within-horizon semantics — the same contract
  * `dropDuplicatesWithinWatermark` ships for exact keys: near-dups
  * further apart than the horizon are a batch job's business.
  *
  * Each unordered pair is emitted exactly once globally: only the
  * LOWEST-index matching band's bucket emits it (the d03/m07
  * first-matching-band rule, computed from the two signatures in-state —
  * stateless cross-bucket dedup, no distinct pass). Within a batch, docs
  * are processed in (ts, id) order, so emissions are deterministic.
  *
  * Late data: a doc arriving after the watermark passed its bucket's
  * horizon may miss pairs (the standard watermark contract; the caller
  * picks the lateness bound via `.withWatermark` before calling — same
  * pattern as [[StatefulSessions.sessions]]).
  */
object StreamingDedup {

  /** `docs` must carry a watermark on `ts` before calling. `maxHamming`
    * must stay below the band count for the banding to be
    * pigeonhole-complete ([[BandLsh.requirePigeonhole]]).
    */
  def nearDupPairsWithinHorizon(
      docs: Dataset[SimDocEvent],
      horizonMs: Long,
      maxHamming: Int = 3): Dataset[NearDupPair] = {
    BandLsh.requirePigeonhole(maxHamming)
    implicit val bandedEnc = Encoders.product[BandedSimDoc]
    implicit val outEnc = Encoders.product[NearDupPair]
    implicit val stEnc = Encoders.product[DedupBucketState]
    implicit val keyEnc = Encoders.scalaLong

    // banding in COLUMN space (explode), not a typed flatMap: the
    // watermark rides the `ts` attribute and must reach the stateful
    // operator intact
    import org.apache.spark.sql.functions.col
    val banded = docs.toDF()
      .withColumn("bucket", BandLsh.bandKeys(col("sig"), BandBits, NBands))
      .select(col("bucket"), col("doc_id"), col("ts"), col("sig"))
      .as[BandedSimDoc]
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (bucket: Long, it: Iterator[BandedSimDoc], state: GroupState[DedupBucketState]) => {
          if (it.isEmpty && state.hasTimedOut) {
            // watermark cleared the bucket's horizon with no arrivals:
            // nothing in here can ever pair again
            state.remove()
            Iterator.empty
          } else {
            val myBand = (bucket >>> BandBits).toInt
            val batch = it.toArray.sortBy(d => (d.ts.getTime, d.doc_id))
            val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
            state.getOption.foreach { st =>
              var i = 0
              while (i < st.ids.length) {
                entries += ((st.ids(i), st.tsMs(i), st.sigs(i)))
                i += 1
              }
            }
            val out = Seq.newBuilder[NearDupPair]
            batch.foreach { n =>
              val nTs = n.ts.getTime
              entries.foreach { case (eid, ets, esig) =>
                if (eid != n.doc_id && math.abs(nTs - ets) <= horizonMs &&
                  BandLsh.firstMatchingBand(esig, n.sig, BandBits, NBands) == myBand) {
                  val h = java.lang.Long.bitCount(esig ^ n.sig)
                  if (h <= maxHamming)
                    out += NearDupPair(math.min(eid, n.doc_id), math.max(eid, n.doc_id), h, myBand)
                }
              }
              entries += ((n.doc_id, nTs, n.sig))
            }
            // prune on the WATERMARK, not the newest member: a still-on-time
            // doc in a later batch has ts >= wm, so only entries older than
            // wm - horizonMs can never pair again. Pruning behind the newest
            // member instead would drop entries an out-of-order (but on-time)
            // arrival may still reach back to — silently missing pairs and
            // breaking the scaladoc contract. State stays bounded by
            // arrival-rate × (horizon + allowed lateness).
            val maxTs = entries.iterator.map(_._2).max
            val wm0 = state.getCurrentWatermarkMs()
            val kept = entries.filter(_._2 >= wm0 - horizonMs)
            state.update(DedupBucketState(
              kept.map(_._1).toArray, kept.map(_._2).toArray, kept.map(_._3).toArray))
            // idle-bucket clearing: once the watermark passes the horizon
            // after the newest member, nothing here can pair again (the
            // guard keeps the timestamp legal if the watermark already
            // advanced past it — the timeout then fires on the next batch)
            state.setTimeoutTimestamp(math.max(maxTs + horizonMs, wm0 + 1L))
            out.result().iterator
          }
        })
  }
}
