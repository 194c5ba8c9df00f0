package graft.streaming

import graft.core.DriverLocal
import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

import scala.collection.mutable

/** The bounded path of the two streaming dedup gates
  * ([[StreamingOps.minhashGateBatch]], [[StreamingOps.embedGateBatch]]).
  *
  * A micro-batch within [[graft.core.DriverLocal.Bound]] is read by one
  * job and decided on the driver: fingerprints and band keys come from
  * the same Column expressions the distributed path runs, folded at
  * planning time over a `LocalRelation`; signatures, shingle sets and
  * probe rows from the same per-row kernels ([[Dedup.signed]], once per
  * document); within-batch pairs are enumerated on the driver. Only the
  * scans of stored state run as Spark jobs — the minhash gate's band
  * scan (its slim band rows against the broadcast batch keys, returning
  * distinct (doc, ref) pairs) and the scan of the candidate refs'
  * stored (sig, sh) rows, the embed gate's probed-lists scan (against
  * the broadcast probe rows) — and what they return is finished on the
  * driver with the same expressions. The writes land the decided rows
  * through the distributed path's own writers, so partition values and
  * files per leaf are unchanged.
  *
  * The driver never holds more than the bound per stage: each scan's
  * result is read under it too ([[DriverLocal.collect]], each task
  * deduplicating its rows first), and a within-batch stage enumerates
  * at most [[DriverLocal.MaxPairs]] pairs. A batch whose stage is over
  * either is left undecided, before any write, and the caller runs the
  * distributed stages instead.
  */
private[streaming] object GateLocal {

  /** The batch's rows when it fits `bound` and `idCol` is a unique,
    * non-null integral key (the decisions' tie rule compares ids); None
    * sends the batch down the distributed path. */
  def read(batch: DataFrame, idCol: String,
      bound: DriverLocal.Bound): Option[Array[InternalRow]] = {
    val i = batch.schema.fieldIndex(idCol)
    batch.schema(i).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        DriverLocal.collect(
            batch.withColumn("__id", F.col(idCol).cast("long")), bound)
          .filter { rows =>
            val last = batch.schema.length
            rows.forall(!_.isNullAt(last)) &&
              rows.iterator.map(_.getLong(last)).distinct.size == rows.length
          }
      case _ => None
    }
  }

  private def sigArray(sig: Array[Long]) = UnsafeArrayData.fromPrimitiveArray(sig)

  /** Every band key of each signature (band order), folded on the
    * driver with the expression [[Dedup.bandKeys]] explodes. */
  private def bandHashesOf(spark: SparkSession, sigs: Seq[Array[Long]],
      numHashes: Int, bands: Int): Seq[Array[Int]] =
    DriverLocal.folded(
      Shim.localFrame(spark,
          StructType(Seq(StructField("sig", ArrayType(LongType, false)))),
          sigs.map(s => InternalRow(sigArray(s))))
        .select(Dedup.bandHashes(F.col("sig"), numHashes, bands)))
      .map(_.getArray(0).toIntArray())

  private val sigType = ArrayType(LongType, false)
  private val shType = ArrayType(StringType, false)

  /** Driver-side [[StreamingOps.minhashGateBatch]] over the batch's
    * `rows` (its `schema` plus the long id [[read]] appends). Same
    * stages and rules as the distributed path: exact keepers (smallest
    * doc_id per fingerprint), within-batch near-dup losers (16 × 4
    * bands over 64 lanes, est floor 3/4·t, exact Jaccard ≥ t, the
    * larger id loses), then losers against the stored state (its own
    * width and banding), then the writes. Each exact keeper is signed
    * and shingled once ([[Dedup.signed]]); the writer receives the
    * decided (doc_id, sig, sh) rows. False, with nothing written, when
    * a stage is over the bound. */
  def minhash(spark: SparkSession, rows: Array[InternalRow],
      schema: StructType, batchId: Long, indexPath: String,
      outPath: String, t: Double, state: Dedup.MinhashIndex,
      bound: DriverLocal.Bound): Boolean = {
    val len = state.shingleLen
    val batch = Shim.localFrame(spark,
      schema.add("__id", LongType, nullable = false), rows.toSeq)
    // per document, batch order: id, fingerprint, text
    val docs = DriverLocal.folded(batch.select(F.col("__id"),
      TextOps.fingerprint(F.col("text")), F.col("text"))).toArray
    val id = docs.map(_.getLong(0))
    // exact stage: the smallest id per fingerprint (null text is one
    // group, as under groupBy)
    val keeper = docs.indices.groupBy(i => Option(docs(i).getUTF8String(1)))
      .values.map(g => g.minBy(id(_))).toSet
    val exact = docs.indices.filter(keeper).sortBy(id(_))
    // null text carries no signature (minhashSignatures' rule)
    val signed = exact.filter(i => !docs(i).isNullAt(2))
    def text(i: Int) = docs(i).getUTF8String(2).toString
    val kernel = signed.map(i => i -> Dedup.signed(text(i), len, 64)).toMap
    val sig64 = kernel.map { case (i, k) => i -> k._1 }
    val sh = kernel.map { case (i, k) => i -> Dedup.shArray(k._2) }

    // within-batch: pairs sharing a (band, key) bucket, smaller id first
    val within = graft.core.Debug.timed(s"mgate[$batchId] within-batch") {
      val bh = bandHashesOf(spark, signed.map(sig64), 64, 16)
      val buckets = mutable.LinkedHashMap.empty[(Int, Int), mutable.ArrayBuffer[Int]]
      for ((_, d) <- signed.zipWithIndex; b <- 0 until 16)
        buckets.getOrElseUpdate((b, bh(d)(b)), mutable.ArrayBuffer.empty) += d
      val payload = signed.map(i => InternalRow(id(i),
        sigArray(sig64(i)), sh(i))).toArray
      val pairSchema = StructType(Seq(
        StructField("doc_a", LongType), StructField("doc_b", LongType),
        StructField("sig_a", sigType), StructField("sig_b", sigType),
        StructField("sh_a", shType), StructField("sh_b", shType)))
      DriverLocal.pairs(spark, payload,
          buckets.valuesIterator.map(_.toArray).toSeq, pairSchema,
          (p: InternalRow, q: InternalRow) => InternalRow(p.getLong(0),
            q.getLong(0), p.getArray(1), q.getArray(1), p.getArray(2),
            q.getArray(2))) {
          _.where(Dedup.sigAgreement(F.col("sig_a"), F.col("sig_b"), 64) >=
              0.75 * t &&
            Dedup.exactJaccard(F.col("sh_a"), F.col("sh_b")) >= t)
            .select("doc_b")
        }.map { kept =>
          val losers = kept.map(_.getLong(0)).toSet
          exact.filterNot(i => losers(id(i)))
        }
    } match {
      case Some(w) => w
      case None => return false
    }

    // against the stored state, at its own width and banding
    val width = state.numHashes
    val withinSigned = within.filter(i => !docs(i).isNullAt(2))
    val sigW = if (width == 64) sig64
      else withinSigned.map(i => i -> Dedup.signed(text(i), len, width)._1).toMap
    val rejected = graft.core.Debug.timed(s"mgate[$batchId] against state") {
      val bh = bandHashesOf(spark, withinSigned.map(sigW), width, state.bands)
      val keys = for ((i, d) <- withinSigned.zipWithIndex;
          b <- 0 until state.bands)
        yield InternalRow(b, bh(d)(b), id(i))
      // ONE scan of the stored band rows against the broadcast keys:
      // the distinct (doc, ref) pairs sharing a bucket
      val keyFrame = Shim.localFrame(spark, StructType(Seq(
        StructField("band", IntegerType), StructField("bh", IntegerType),
        StructField("doc_id", LongType))), keys)
      val cand =
        if (keys.isEmpty) Some(Array.empty[InternalRow])
        else DriverLocal.collect(state.bandRows
            .select(F.col("band"), F.col("bh"),
              // stored ids keep the indexed corpus's id type
              F.col("doc_id").cast("long").as("ref_id"))
            .join(F.broadcast(keyFrame), Seq("band", "bh"))
            .select("doc_id", "ref_id"), bound, distinct = true)
      // ONE scan for the candidate refs' stored signatures and
      // shingles, then the est floor and the exact Jaccard of every
      // candidate pair on the driver
      cand.map(_.map(r => (r.getLong(0), r.getLong(1))).distinct).flatMap {
        case c if c.isEmpty => Some(Set.empty[Long])
        case c => DriverLocal.collect(state.refShingles
              .where(F.col("doc_id").isin(c.map(_._2).distinct.toSeq: _*))
              .select(F.col("doc_id").cast("long"), F.col("sig"), F.col("sh")),
              bound)
            .map { storedRows =>
              val stored = storedRows.groupBy(_.getLong(0))
              val of = withinSigned.map(i => id(i) -> i).toMap
              val pairs = for ((d, r) <- c.toSeq;
                  s <- stored.getOrElse(r, Array.empty[InternalRow]))
                yield InternalRow(d, sigArray(sigW(of(d))), s.getArray(1),
                  sh(of(d)), s.getArray(2))
              DriverLocal.folded(Shim.localFrame(spark, StructType(Seq(
                    StructField("doc_id", LongType),
                    StructField("sig_a", sigType), StructField("sig_b", sigType),
                    StructField("sh_a", shType), StructField("sh_b", shType))),
                  pairs)
                  .where(Dedup.sigAgreement(F.col("sig_a"), F.col("sig_b"),
                      width) >= 0.75 * t &&
                    Dedup.exactJaccard(F.col("sh_a"), F.col("sh_b")) >= t)
                  .select("doc_id"))
                .map(_.getLong(0)).toSet
            }
      }
    } match {
      case Some(r) => r
      case None => return false
    }

    val admitted = within.filterNot(i => rejected(id(i))).toSet
    graft.core.Debug.timed(s"mgate[$batchId] writes") {
      val cols = schema.fieldNames.toSeq
      val survivors = Shim.localFrame(spark, batch.schema,
          rows.indices.filter(admitted).map(rows(_)))
        .select(("doc_id" +: cols.filter(_ != "doc_id")).map(F.col): _*)
      val decided = Shim.localFrame(spark, Dedup.SignedSchema,
        within.filter(admitted).map(i =>
          if (docs(i).isNullAt(2)) InternalRow(id(i), null, null)
          else InternalRow(id(i), sigArray(sigW(i)), sh(i))))
      Dedup.minhashAppendSigned(decided, indexPath, batchId, width,
        state.bands, Some(admitted.size.toLong))
      StreamingOps.writeGateOutput(survivors, batchId, outPath)
    }
    true
  }

  /** Driver-side [[StreamingOps.embedGateBatch]] over (id, vec) `rows`
    * (plus [[read]]'s long id). Same stages as the distributed path:
    * assignment to the frozen centroids; within-cell losers (round-4
    * cosine ≥ T against a smaller id in the same cell); one scan of the
    * probed lists' stored vectors against the broadcast probe rows
    * ([[StreamingOps.gateScored]]), whose ambiguous pairs are reranked
    * on the driver ([[StreamingOps.gateRerankRejects]]); then the
    * writes. False, with nothing written, when a stage is over the
    * bound. */
  def embed(spark: SparkSession, rows: Array[InternalRow], batchId: Long,
      indexPath: String, outPath: String, threshold: Double, np: Int,
      st: StreamingOps.GateIvfState, bound: DriverLocal.Bound): Boolean = {
    val byId = rows.sortBy(_.getLong(0))
    val id = byId.map(_.getLong(0))
    val vec = byId.map(_.getArray(1).toDoubleArray())
    val cell = vec.map(st.model.predict)
    val vecType = ArrayType(DoubleType, false)

    val within = graft.core.Debug.timed(s"egate[$batchId] within-batch") {
      DriverLocal.pairs(spark,
          byId.map(r => InternalRow(r.getLong(0), r.getArray(1))),
          id.indices.groupBy(cell(_)).values.map(_.toArray).toSeq,
          StructType(Seq(StructField("id_a", LongType),
            StructField("id_b", LongType), StructField("vec_a", vecType),
            StructField("vec_b", vecType))),
          (p: InternalRow, q: InternalRow) => InternalRow(p.getLong(0),
            q.getLong(0), p.getArray(1), q.getArray(1))) {
          _.where(StreamingOps.gateCos(F.col("vec_a"), F.col("vec_b")) >=
              threshold)
            .select("id_b")
        }.map { kept =>
          val losers = kept.map(_.getLong(0)).toSet
          id.indices.filterNot(i => losers(id(i)))
        }
    } match {
      case Some(w) => w
      case None => return false
    }

    val rejected = graft.core.Debug.timed(s"egate[$batchId] against state") {
      val probes = within.flatMap(i => StreamingOps.gateProbeRows(
        id(i), vec(i), st.centroids, np, st.dims))
      if (probes.isEmpty) Some(Set.empty[Long])
      else {
        val probeFrame = Shim.localFrame(spark, StructType(Seq(
            StructField("bid", LongType, nullable = false),
            StructField("bcode", BinaryType),
            StructField("blo", DoubleType, nullable = false),
            StructField("bhi", DoubleType, nullable = false),
            StructField("berr", DoubleType, nullable = false),
            StructField("cluster", IntegerType, nullable = false))),
          probes.map { case (b, codes, lo, hi, err, c) =>
            InternalRow(b, codes, lo, hi, err, c) })
        val state = StreamingOps.embedGateStateScan(spark, indexPath,
          batchId, Some(probes.map(_._6).distinct.sorted), Some(st))
        // ONE scan: the code-space pass over the probed lists, each
        // task keeping one row per definite reject (null svec) and per
        // distinct ambiguous pair; the exact rerank of the ambiguous
        // pairs then runs on the driver
        DriverLocal.collect(StreamingOps.gateScored(state,
            StreamingOps.gateProbeSide(probeFrame, probes.length, st.dims),
            threshold), bound, distinct = true)
          .map { scored =>
            val bvec = within.map(i => id(i) -> byId(i).getArray(1)).toMap
            DriverLocal.folded(Shim.localFrame(spark, StructType(Seq(
                  StructField("bid", LongType), StructField("svec", vecType),
                  StructField("bvec", vecType))),
                scored.toSeq.map(r => InternalRow(r.getLong(0),
                  if (r.isNullAt(1)) null else r.getArray(1),
                  bvec(r.getLong(0)))))
                .where(StreamingOps.gateRerankRejects(threshold))
                .select("bid"))
              .map(_.getLong(0)).toSet
          }
      }
    } match {
      case Some(r) => r
      case None => return false
    }

    val admitted = within.filterNot(i => rejected(id(i)))
    graft.core.Debug.timed(s"egate[$batchId] writes") {
      val out = Shim.localFrame(spark, StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("vec", vecType),
          StructField("cluster", IntegerType, nullable = false))),
        admitted.map(i => InternalRow(id(i), byId(i).getArray(1), cell(i))))
      StreamingOps.writeGateOutput(out.select("id", "vec"), batchId, outPath)
      StreamingOps.ivfAppendSegment(out, indexPath, batchId,
        knownRows = Some(admitted.length.toLong))
    }
    true
  }
}
