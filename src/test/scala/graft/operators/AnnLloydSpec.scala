package graft.operators

import graft.SparkSpec

/** The Spark quantizers (both levels of `ivf2Train`, the per-subspace
  * `pqCodebooks`) against the driver-side `AnnReference.lloyd`, bit for
  * bit, on two in-memory corpora. The second corpus copies the first
  * hash-order seed's vector onto the second: the two seeds tie on every
  * dot product, first-max assignment gives the second nothing, and its
  * cell empties in the first pass — the path where a trainer must keep
  * the surviving cells in cid order.
  */
class AnnLloydSpec extends SparkSpec {
  private val dim = 16

  private def points(twinSeeds: Boolean): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(11)
    val pts = (0L until 600L).map(id => id -> Array.fill(dim)(rnd.nextGaussian()))
    if (!twinSeeds) pts
    else {
      val first2 = pts.map(_._1).sortBy(AnnReference.hashOrder).take(2)
      val copy = pts(first2(0).toInt)._2
      pts.map { case (id, v) => id -> (if (id == first2(1)) copy.clone() else v) }
    }
  }

  private def bits(cs: Seq[Array[Double]]): Seq[Seq[Long]] =
    cs.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))

  for ((name, twin) <- Seq("seeded random corpus" -> false, "two identical seed vectors" -> true))
    test(s"ivf2Train and pqCodebooks equal the reference Lloyd bit for bit: $name") {
      val pts = points(twin)
      val s = spark
      import s.implicits._
      val vecs = pts.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v")

      val target = 20
      val idx = AnnOps.ivf2Train(vecs, pts.size.toLong, target, iters = 2, dim = dim)
      val coarse = AnnReference.lloyd(pts, AnnOps.ivf2Ncoarse(pts.size.toLong), 2, euclid = false)
      assert(bits(idx.coarse) === bits(coarse), "ivf2Train coarse level")
      val cells = pts.groupBy { case (_, v) => AnnReference.nearest(v, coarse) }
        .toIndexedSeq.sortBy(_._1)
      val fine = cells.map { case (g, members) =>
        g -> AnnReference.lloyd(members, AnnOps.ivf2FineK(members.size.toLong, target), 2,
          euclid = false)
      }
      assert(idx.fine.map { case (g, cs) => g -> bits(cs) } ===
        fine.map { case (g, cs) => g -> bits(cs) }, "ivf2Train fine level")

      val (m, k) = (4, 8)
      val sd = dim / m
      val books = (0 until m).map { sub =>
        AnnReference.lloyd(pts.map { case (id, v) => id -> v.slice(sub * sd, (sub + 1) * sd) },
          k, 2, euclid = true)
      }
      assert(AnnOps.pqCodebooks(vecs, m = m, k = k, dim = dim).map(bits) === books.map(bits),
        "pqCodebooks")

      if (twin) {
        assert(coarse.size < AnnOps.ivf2Ncoarse(pts.size.toLong),
          "twin seeds must empty a coarse cell")
        assert(cells.zip(fine).exists { case ((_, members), (_, cs)) =>
          cs.size < AnnOps.ivf2FineK(members.size.toLong, target)
        }, "twin seeds must empty a fine cell")
        assert(books.forall(_.size < k), "twin seeds must empty a cell in every subspace")
      }
    }
}
