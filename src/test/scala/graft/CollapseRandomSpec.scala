package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.queries.DocQueries

/** ScalaCheck extension of [[CollapseBoundsSpec]]: the fixed
  * adversarial corpus there pins each collapse against one crafted
  * input; here RANDOMIZED corpora (random dup-group sizes up to block
  * buckets of more than 64 docs, random multiplicities,
  * shared-vocabulary singles, shorts, interleaved ids, score TIES at the
  * k=20 ranking boundary) assert collapsed ≡ flat family-wide —
  * jaccard, containment, simhash-hamming, and dup-cluster component
  * sizes under multiplicity expansion. Randomized SIGNATURE sets drive
  * the simhash group-pair cut directly: double-block collisions and
  * ≥20 group pairs tied at one distance, against brute force. Seeded,
  * so a failure replays. */
class CollapseRandomSpec extends SparkSpec {

  /** One generated corpus: dup groups (text, copies) + near-dup singles
    * sharing the groups' vocabulary + short docs, ids shuffled so group
    * members interleave (pair reconstruction must mix groups). */
  private case class Corpus(rows: Seq[(Long, String)]) {
    override def toString: String =
      s"Corpus(${rows.size} docs, ${rows.map(_._2).distinct.size} distinct)"
  }

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")

  private val corpusGen: Gen[Corpus] = for {
    nGroups <- Gen.choose(2, 4)
    // at least one group of more than 64 docs (one giant simhash
    // block bucket) and past the 21-id collapse bound, so every slice
    // cuts something
    sizes <- Gen.listOfN(nGroups, Gen.choose(2, 40))
      .map(ss => 70 :: ss)
    // group texts share a long common prefix (same LSH/gram buckets,
    // near-dup but not equal) and differ in one trailing token
    groupTexts = sizes.indices.map(i =>
      s"alpha beta gamma delta epsilon zeta ${vocab(i % vocab.size)}$i")
    nSingles <- Gen.choose(5, 25)
    singles <- Gen.listOfN(nSingles, for {
      a <- Gen.oneOf(vocab); b <- Gen.oneOf(vocab); n <- Gen.choose(0, 6)
    } yield s"alpha beta gamma $a $b tail$n end")
    nShort <- Gen.choose(0, 4)
    shuffle <- Gen.long
  } yield {
    val texts =
      sizes.zip(groupTexts).flatMap { case (n, t) => Seq.fill(n)(t) } ++
        singles ++ Seq.fill(nShort)("xy")
    val rnd = new scala.util.Random(shuffle)
    // ids 1..n in shuffled assignment — members of one group get
    // non-contiguous, interleaved ids
    val ids = rnd.shuffle(texts.indices.map(_ + 1L).toVector)
    Corpus(texts.zip(ids).map { case (t, id) => (id, t) })
  }

  private def writeCorpus(c: Corpus): String = {
    val dir = tmpDir("collapse-rand")
    import spark.implicits._
    c.rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("synthetic"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def collect(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toList).toList

  /** Run a seeded property over `n` generated inputs, failing the test
    * with ScalaCheck's counterexample on a mismatch. */
  private def check[T](gen: Gen[T], n: Int)(p: T => Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n)
        .withMaxDiscardRatio(1.0f)
        .withInitialSeed(Seed(20260814L)),
      Prop.forAllNoShrink(gen)(p))
    assert(res.passed, res.status.toString)
  }

  private def checkCorpora(n: Int)(p: Corpus => Boolean): Unit =
    check(corpusGen, n)(c => Prop(p(c)))

  /** One generated signature set: (doc_id, 32-char '0'/'1' signature). */
  private case class Sigs(rows: Seq[(Long, String)]) {
    override def toString: String =
      s"Sigs(${rows.size} docs, ${rows.map(_._2).distinct.size} signatures)"
  }

  private def bits(n: Int): Gen[String] =
    Gen.listOfN(n, Gen.oneOf('0', '1')).map(_.mkString)

  /** A cluster of `k` one-hot variants of a base signature, pairwise
    * at distance 2, plus (sometimes) the base itself at distance 1 from
    * each, plus noise sharing one or both blocks with the base. With
    * `bothBlocks` the flipped bits sit in chars 17–32 and the noise
    * keeps chars 1–16, so every candidate group pair shares BOTH 8-char
    * blocks and appears twice in the join output; otherwise the flips
    * sit in chars 9–16 and cluster pairs share block 0 only. Most
    * groups are singletons (few hamming-0 pairs), so the group-pair cut
    * decides the top-20; member ids are shuffled. */
  private def sigGen(bothBlocks: Boolean): Gen[Sigs] = for {
    base <- bits(32)
    k <- Gen.choose(7, 8)
    flips <- Gen.pick(k, if (bothBlocks) 16 until 32 else 8 until 16)
    withBase <- Gen.oneOf(true, false)
    nNoise <- Gen.choose(10, 30)
    noise <- Gen.listOfN(nNoise,
      if (bothBlocks) bits(16).map(base.take(16) + _)
      else Gen.zip(Gen.oneOf(0, 1), bits(24)).map { case (j, r) =>
        r.patch(8 * j, base.slice(8 * j, 8 * j + 8), 0) })
    mult <- Gen.listOfN(k + 1, Gen.frequency(5 -> 1, 1 -> 2))
    shuffle <- Gen.long
  } yield {
    val cluster = flips.toList.map(i =>
      base.updated(i, if (base(i) == '0') '1' else '0'))
    val sigs = (cluster ++ (if (withBase) Seq(base) else Nil))
      .zip(mult).flatMap { case (g, m) => Seq.fill(m)(g) } ++ noise
    val ids = new scala.util.Random(shuffle)
      .shuffle(sigs.indices.map(_ + 1L).toVector)
    Sigs(ids.zip(sigs))
  }

  /** (hamming, shares both blocks) for every distinct candidate group
    * pair — the plain-Scala view of the join output. */
  private def groupPairs(c: Sigs): Seq[(Int, Boolean)] = {
    val gs = c.rows.map(_._2).distinct.sorted
    def block(s: String, j: Int) = s.substring(8 * j, 8 * j + 8)
    for {
      i <- gs.indices; k <- i + 1 until gs.size
      (x, y) = (gs(i), gs(k))
      shared = (0 to 1).count(j => block(x, j) == block(y, j))
      if shared > 0
    } yield (x.zip(y).count { case (p, q) => p != q }, shared == 2)
  }

  private def sigFrame(c: Sigs): DataFrame =
    spark.createDataFrame(c.rows).toDF("doc_id", "simhash")

  // ---- the flat reference spellings (same as CollapseBoundsSpec) ----

  private def flatJaccard(dir: String): DataFrame = {
    val g = DocQueries.gramProfilesOf(
      graft.Tables.documents(spark, dir).select("doc_id", "text"))
    val inter = size(array_intersect(col("x.grams"), col("y.grams")))
      .cast("double")
    DocQueries.inBucketPairs(g)
      .join(g.as("x"), col("x.doc_id") === col("doc_a"))
      .join(g.as("y"), col("y.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (inter / size(array_distinct(
          concat(col("x.grams"), col("y.grams"))))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  private def flatContainment(dir: String): DataFrame = {
    val g = DocQueries.gramProfilesOf(
      graft.Tables.documents(spark, dir).select("doc_id", "text"))
    def inter = size(array_intersect(col("x.grams"), col("y.grams")))
      .cast("double")
    DocQueries.inBucketPairs(g)
      .join(g.as("x"), col("x.doc_id") === col("doc_a"))
      .join(g.as("y"), col("y.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (inter / size(col("x.grams"))).as("cont_a"),
        (inter / size(col("y.grams"))).as("cont_b"),
        greatest(inter / size(col("x.grams")),
          inter / size(col("y.grams"))).as("cont_max"))
      .orderBy(col("cont_max").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Driver-side union-find over the flat ≥0.9-jaccard pair graph →
    * the (cluster_size, n_clusters, min/max label) expectation rows. */
  private def unionFindClusters(dir: String): Seq[Seq[Any]] = {
    val g = DocQueries.gramProfilesOf(
      graft.Tables.documents(spark, dir).select("doc_id", "text"))
    val inter = size(array_intersect(col("x.grams"), col("y.grams")))
      .cast("double")
    val edges = DocQueries.inBucketPairs(g)
      .join(g.as("x"), col("x.doc_id") === col("doc_a"))
      .join(g.as("y"), col("y.doc_id") === col("doc_b"))
      .where(inter / size(array_distinct(
        concat(col("x.grams"), col("y.grams")))) >= 0.9)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val clusters = parent.keys.toSeq.groupBy(find).map { case (root, ms) =>
      (root, ms.size.toLong)
    }
    clusters.groupBy(_._2).toSeq.map { case (sz, cs) =>
      List[Any](sz, cs.size.toLong, cs.map(_._1).min, cs.map(_._1).max)
    }.sortBy(_.head.asInstanceOf[Long])
  }

  test("randomized corpora: collapsed jaccard ranking == flat spelling") {
    checkCorpora(4) { c =>
      val dir = writeCorpus(c)
      collect(DocQueries.ngramJaccard.run(spark, dir)) ==
        collect(flatJaccard(dir))
    }
  }

  test("randomized corpora: collapsed containment ranking == flat " +
    "spelling incl. side-dependent cont_a/cont_b") {
    checkCorpora(4) { c =>
      val dir = writeCorpus(c)
      collect(DocQueries.containment.run(spark, dir)) ==
        collect(flatContainment(dir))
    }
  }

  test("randomized corpora: grouped simhash-hamming == brute force, " +
    "with distance ties crossing the k=20 boundary") {
    checkCorpora(4) { c =>
      val dir = writeCorpus(c)
      val sig = DocQueries.simhashFrames(spark, dir)
      // tie precondition: every within-group pair is distance 0, and
      // the 70-copy group alone yields 2415 such pairs — the k=20 cut
      // always lands INSIDE a tie run, so equality below certifies the
      // deterministic (doc_a, doc_b) tie-break through the collapse
      collect(DocQueries.simhashHamming.run(spark, dir)) ==
        CollapseBoundsSpec.bruteHammingTop20(sig)
    }
  }

  test("randomized signatures: double-block collisions (each group pair " +
    "twice in the join output) == brute force") {
    check(sigGen(bothBlocks = true), 4) { c =>
      // precondition: more than 10 double-block group pairs rank at or
      // before the 20th pair's distance, so a top-20 of raw join rows
      // (each such pair twice) cannot hold them all
      val top = CollapseBoundsSpec.bruteHammingTop20(sigFrame(c))
      val h20 = top.last.head.asInstanceOf[Int]
      val doubled = groupPairs(c).count(g => g._2 && g._1 <= h20)
      (doubled > 10) ==>
        (collect(DocQueries.hammingTopPairs(sigFrame(c))) == top)
    }
  }

  test("randomized signatures: ≥20 group pairs tied at one distance, " +
    "the group-pair cut inside the tie == brute force") {
    check(sigGen(bothBlocks = false), 4) { c =>
      // precondition: the 20th ranked pair is a cross-group pair whose
      // distance holds ≥20 group pairs, and that tie runs past rank 20,
      // so the top-40 → dropDuplicates → top-20 cut lands inside it
      val top = CollapseBoundsSpec.bruteHammingTop20(sigFrame(c))
      val hs = top.map(_.head.asInstanceOf[Int])
      val tied = groupPairs(c).count(_._1 == hs.last)
      (hs.last > 0 && tied >= 20 && hs.count(_ < hs.last) + tied > 20) ==>
        (collect(DocQueries.hammingTopPairs(sigFrame(c))) == top)
    }
  }

  test("randomized corpora: dup-cluster component sizes under " +
    "multiplicity expansion == driver union-find over the flat graph") {
    checkCorpora(4) { c =>
      val dir = writeCorpus(c)
      collect(DocQueries.dupClusters.run(spark, dir)) ==
        unionFindClusters(dir)
    }
  }
}
