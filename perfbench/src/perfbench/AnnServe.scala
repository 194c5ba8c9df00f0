package perfbench

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, functions => F}
import scala.collection.mutable

/** Read-only vector-DB serving on a saved IVF layout: batches of
  * queries rotate over the raw, filtered, SQ8 and PQ faces.
  */
object AnnServe {
  val Dims = 64
  val K = 10
  val QueriesPerCall = 100
  val Pools = 4
  val Rerank = 50
  val Faces: Seq[String] = Seq("raw", "where", "sq8", "pq")
  private val LabelPos = 77L

  final case class Served(
      emb: DataFrame, meta: DataFrame, ivf: Similarity.IvfIndex,
      sq8: Similarity.Sq8Index, pq: Similarity.PqIndex)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tr
    val n = if (ctx.args.smoke) 3000 else 20000
    val gen = new Gen(ctx.args.seed, Dims)
    def label(id: Long): Int = gen.pick(id, LabelPos, 10).toInt
    val nLists = Similarity.suggestLists(n.toLong)
    val nprobe = Similarity.suggestNprobe(nLists)

    val (emb, meta) = ctx.setup(3) { r =>
      val p = ctx.path(s"ann-emb-$r")
      (0 until n).map(i => (i.toLong, gen.vec(i.toLong), label(i.toLong)))
        .toDF("id", "vec", "label").write.parquet(p)
      val all = spark.read.parquet(p)
      all.count()
      (all.select("id", "vec"), all.select("id", "label"))
    }
    tr.nextOp()
    val (srv, buildS) = ctx.timed {
      val built = tr("similarity.ivf_build") {
        val b = Similarity.ivfBuild(emb, nLists)
        b.assigned.count()
        b
      }
      val dir = ctx.path("ann-ivf")
      tr("similarity.ivf_save")(Similarity.ivfSave(built, dir))
      val loaded = tr("similarity.ivf_load")(Similarity.ivfLoad(spark, dir))
      val (sq8, pq) = tr("similarity.codec_encode") {
        val s = Similarity.sq8Encode(emb)
        val q = Similarity.pqBuild(emb, m = 8, ksub = 64)
        s.codes.count()
        q.codes.count()
        (s, q)
      }
      built.assigned.unpersist()
      Served(emb, meta, loaded, sq8, pq)
    }
    val rows = Array.tabulate(n)(i => gen.vec(i.toLong))
    val corpus = new Corpus(Array.tabulate(n)(_.toLong), rows)
    val pools = Array.tabulate(Pools)(p => Array.tabulate(QueriesPerCall)(j =>
      Gen.toDouble(gen.vec(20000000L + p * QueriesPerCall + j))))
    val exact = pools.map(qs => corpus.topKAll(qs, K))
    val exactWhere = pools.map(qs => corpus.topKAll(qs, K, id => label(id) == 0))
    val poolDf = pools.map(qs => qs.indices.map(j => (j.toLong, qs(j))).toDF("qid", "qvec"))

    val listSize: Map[Int, Long] =
      if (tr.on) srv.ivf.assigned.groupBy("cluster").count().as[(Int, Long)].collect().toMap
      else Map.empty
    val walls = mutable.ArrayBuffer.empty[Double]
    val recalls = Faces.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val scanned = mutable.ArrayBuffer.empty[Double]
    ctx.loop(minCalls = 24) { i =>
      val face = Faces(i % Faces.length)
      val p = (i / Faces.length) % Pools
      val q = poolDf(p)
      val call: () => DataFrame = face match {
        case "raw" => () => Similarity.ivfTopKBatch(srv.ivf, q, K, nprobe)
        case "where" => () => Similarity.ivfTopKBatchWhere(
          srv.ivf, srv.meta, F.col("label") === 0, q, K, nprobe)
        case "sq8" => () => Similarity.ivfSq8TopKBatch(
          srv.ivf, srv.sq8, srv.emb, q, K, nprobe, Rerank)
        case _ => () => Similarity.ivfPqTopKBatch(
          srv.ivf, srv.pq, srv.emb, q, K, nprobe, Rerank)
      }
      val (out, s) = ctx.timed(tr(s"similarity.${face}_batch")(call().collect()))
      walls += s
      val byQ = out.toSeq.map(r => (r.getAs[Long]("qid"), (r.getAs[Long]("id"), r.getAs[Double]("score"))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val truth = if (face == "where") exactWhere(p) else exact(p)
      val ok = pools(p).indices.forall { j =>
        val got = byQ.getOrElse(j.toLong, Nil)
        Checks.wellFormed(got, K) && got.forall(g => corpus.contains(g._1)) &&
          (face != "where" || got.forall(g => label(g._1) == 0))
      }
      if (!ok) ctx.fail(s"$face batch $i returned rows that fail the check")
      recalls(face) += pools(p).indices.map(j =>
        Checks.recall(byQ.getOrElse(j.toLong, Nil).map(_._1), truth(j))).sum / QueriesPerCall
      if (tr.on) {
        val probes = tr("similarity.ivf_probe")(
          pools(p).map(qv => Similarity.ivfProbes(srv.ivf, qv, nprobe)))
        scanned += probes.map(_.map(c => listSize.getOrElse(c, 0L)).sum).sum.toDouble /
          math.max(1, out.length)
      }
    }
    Faces.foreach(f => ctx.metrics(s"similarity.$f.recall_at_10") =
      recalls(f).sum / math.max(1, recalls(f).length))
    ctx.metrics("similarity.recall_at_10") = Faces.map(f => ctx.metrics(s"similarity.$f.recall_at_10")).min
    ctx.metrics("similarity.scanned_per_result") = Stats.median(scanned.toSeq)
    ctx.metrics("build_s") = buildS
    ctx.callMetrics(walls.toSeq, QueriesPerCall)
    ctx.info("n") = n.toString
    ctx.info("lists") = s"$nLists lists, nprobe $nprobe"
  }
}
