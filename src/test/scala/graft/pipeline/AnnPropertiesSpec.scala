package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** Property-based pin of the native `ivf_assign` expression
  * (`plans/IvfAssign`) against an independent plain-Scala oracle on
  * RANDOM vectors and centroids — the fixed-corpus parity tests (q65
  * oracle, hier ≡ flat) can't explore tie cases or odd probe shapes
  * the way generated inputs do. The oracle reproduces the documented
  * semantics from scratch: cosine with sequential-fold dots and norms,
  * HALF_UP rounding to 4 decimals, candidates ranked (cos desc, cid
  * asc), coarse groups ranked (cos desc, group asc).
  *
  * Components are drawn from a small value set so equal cosines (and
  * therefore the tie rules) actually occur; no zeros-only vectors, so
  * norms never vanish. */
object AnnPropertiesSpec extends Properties("graft.ann") {

  private lazy val spark = SparkTestSession.spark

  private def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
    s
  }
  private def nrm(a: Seq[Double]): Double = math.sqrt(dot(a, a))
  private def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP)
      .doubleValue()
  private def cos(v: Seq[Double], c: Seq[Double]): Double =
    round4(dot(v, c) / (nrm(v) * nrm(c)))

  /** Oracle of the flat scan: best-nprobe cells by (cos desc, cid asc). */
  private def flatOracle(v: Seq[Double], cents: Seq[(Int, Seq[Double])],
                         nprobe: Int): Seq[Long] =
    cents.map { case (cid, c) => (cos(v, c), cid) }
      .sortBy { case (s, cid) => (-s, cid) }.take(nprobe).map(_._2.toLong)

  /** Oracle of the two-level descent over a [[Similarity.CoarseIndex]]. */
  private def hierOracle(v: Seq[Double], idx: Similarity.CoarseIndex,
                         nprobe: Int, coarseProbe: Int): Seq[Long] = {
    val groups = idx.coarse.zipWithIndex
      .map { case (c, g) => (cos(v, c), g) }
      .sortBy { case (s, g) => (-s, g) }
      .take(math.min(coarseProbe, idx.groups.size)).map(_._2)
    groups.flatMap(g => idx.groups(g))
      .map { case (cid, c) => (cos(v, c), cid) }
      .sortBy { case (s, cid) => (-s, cid) }.take(nprobe).map(_._2.toLong)
  }

  private val component: Gen[Double] = Gen.oneOf(-1.0, -0.5, 0.5, 1.0, 2.0)
  private def vec(dim: Int): Gen[Seq[Double]] = Gen.listOfN(dim, component).map(_.toSeq)

  private val cfg: Gen[(Int, Seq[Seq[Double]], Seq[Seq[Double]], Int, Int)] = for {
    dim <- Gen.choose(2, 5)
    nVec <- Gen.choose(3, 12)
    nCent <- Gen.choose(2, 7)
    vs <- Gen.listOfN(nVec, vec(dim))
    cs <- Gen.listOfN(nCent, vec(dim))
    nprobe <- Gen.choose(1, 4)
    coarseProbe <- Gen.choose(1, 3)
  } yield (dim, vs.toSeq, cs.toSeq, nprobe, coarseProbe)

  private def runAssign(vs: Seq[Seq[Double]],
                        cells: org.apache.spark.sql.Column): Map[Long, Seq[Long]] = {
    import spark.implicits._
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(call_function("vec_dot", col("v"), col("v"))))
      .select(col("vec_id"), cells.as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
  }

  property("flat ivf_assign equals the plain-Scala oracle") =
    Prop.forAll(cfg) { case (_, vs, cs, nprobe, _) =>
      val cents = cs.zipWithIndex.map { case (c, i) => i -> c }
      val got = runAssign(vs,
        Similarity.ivfCellsOf(col("v"), col("nrm"), cents, nprobe))
      vs.zipWithIndex.forall { case (v, i) =>
        got(i.toLong) == flatOracle(v, cents, nprobe)
      }
    }

  property("hierarchical ivf_assign equals the plain-Scala descent oracle") =
    Prop.forAll(cfg) { case (_, vs, cs, nprobe, coarseProbe) =>
      val cents = cs.zipWithIndex.map { case (c, i) => i -> c }
      val idx = Similarity.buildCoarseIndex(cents)
      val got = runAssign(vs,
        Similarity.ivfCellsOfHier(col("v"), col("nrm"), idx, nprobe, coarseProbe))
      vs.zipWithIndex.forall { case (v, i) =>
        got(i.toLong) == hierOracle(v, idx, nprobe, coarseProbe)
      }
    }

  /** Oracle of the three-level descent over a [[Similarity.TreeIndex]]:
    * top groups ranked (cos desc, kept-top position asc), their coarse
    * members ranked (cos desc, coarse position asc), then the fine
    * members — the same two-stage rule one level deeper. */
  private def treeOracle(v: Seq[Double], t: Similarity.TreeIndex,
                         nprobe: Int, coarseProbe: Int, topProbe: Int): Seq[Long] = {
    val topSel = t.top.zipWithIndex
      .map { case (c, tp) => (cos(v, c), tp) }
      .sortBy { case (s, tp) => (-s, tp) }
      .take(math.min(topProbe, t.topGroups.size)).map(_._2)
    val coarseSel = topSel.flatMap(tp => t.topGroups(tp))
      .map(p => (cos(v, t.fine.coarse(p)), p))
      .sortBy { case (s, p) => (-s, p) }
      .take(coarseProbe).map(_._2)
    coarseSel.flatMap(p => t.fine.groups(p))
      .map { case (cid, c) => (cos(v, c), cid) }
      .sortBy { case (s, cid) => (-s, cid) }.take(nprobe).map(_._2.toLong)
  }

  property("tree ivf_assign equals the plain-Scala three-level oracle") =
    Prop.forAll(cfg) { case (_, vs, cs, nprobe, coarseProbe) =>
      val cents = cs.zipWithIndex.map { case (c, i) => i -> c }
      val tree = Similarity.buildTreeIndex(cents)
      val topProbe = 1 + coarseProbe % 2 // 1 or 2, varied with the config
      val got = runAssign(vs,
        Similarity.ivfCellsOfTree(col("v"), col("nrm"), tree,
                                  nprobe, coarseProbe, topProbe))
      vs.zipWithIndex.forall { case (v, i) =>
        got(i.toLong) == treeOracle(v, tree, nprobe, coarseProbe, topProbe)
      }
    }
}
