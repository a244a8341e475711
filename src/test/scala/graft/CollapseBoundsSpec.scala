package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.DocQueries

/** The text/signature-group-collapse machinery against flat reference
  * computations on corpora the driver's SF sets never produce: dup
  * groups larger than the 21-id bound, interleaved member ids, block
  * buckets of more than 64 docs, profile-less dup groups. The
  * counting-bound proofs in the scaladocs claim losslessness; these
  * corpora make every slice actually cut something, so a broken bound
  * shows up as a row diff, not a silent pass. */
class CollapseBoundsSpec extends SparkSpec {

  /** Adversarial corpus: group A = 30 copies (odd ids 1..59 —
    * interleaved with B so top-20 pair reconstruction must mix the
    * groups), group B = 25 copies (even ids 2..50) of a near-dup of A,
    * group C = 70 copies of a third near-dup (ids 200..269; identical
    * texts ⇒ identical signatures ⇒ one simhash block bucket holds ≥70
    * docs), 40 distinct
    * near-dup singles (ids 300..339, same leading tokens → same gram
    * bucket), and a 5-copy SHORT dup group (ids 400..404; <3 tokens,
    * <4 chars) that must never reach any pair. */
  private lazy val corpusDir: String = {
    val dir = tmpDir("collapse-corpus")
    val tA = "alpha beta gamma delta epsilon zeta eta"
    val tB = "alpha beta gamma delta epsilon zeta theta"
    val tC = "alpha beta gamma delta epsilon zeta iota"
    val rows =
      (0 until 30).map(i => (1L + 2 * i, tA)) ++
        (0 until 25).map(i => (2L + 2 * i, tB)) ++
        (0 until 70).map(i => (200L + i, tC)) ++
        (0 until 40).map(i => (300L + i,
          s"alpha beta gamma word$i tail${i % 7} end")) ++
        (0 until 5).map(i => (400L + i, "xy"))
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("synthetic"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def collect(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toList).toList

  test("ngram jaccard: collapsed ranking equals the flat bucket-join " +
    "spelling on oversized interleaved dup groups") {
    val g = DocQueries.gramProfilesOf(
      graft.Tables.documents(spark, corpusDir).select("doc_id", "text"))
    val inter = size(array_intersect(col("x.grams"), col("y.grams")))
      .cast("double")
    val flat = DocQueries.inBucketPairs(g)
      .join(g.as("x"), col("x.doc_id") === col("doc_a"))
      .join(g.as("y"), col("y.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (inter / size(array_distinct(
          concat(col("x.grams"), col("y.grams"))))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
    val got = collect(DocQueries.ngramJaccard.run(spark, corpusDir))
    assert(got == collect(flat))
    // the slices actually cut: group A alone holds 435 within pairs
    assert(got.size == 20)
    // the short dup group never pairs
    assert(!got.exists(r => r.exists {
      case l: Long => l >= 400L && l < 405L; case _ => false
    }))
  }

  test("containment: collapsed ranking equals the flat spelling, " +
    "including the side-dependent cont_a/cont_b assignment") {
    val g = DocQueries.gramProfilesOf(
      graft.Tables.documents(spark, corpusDir).select("doc_id", "text"))
    def inter = size(array_intersect(col("x.grams"), col("y.grams")))
      .cast("double")
    val flat = DocQueries.inBucketPairs(g)
      .join(g.as("x"), col("x.doc_id") === col("doc_a"))
      .join(g.as("y"), col("y.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (inter / size(col("x.grams"))).as("cont_a"),
        (inter / size(col("y.grams"))).as("cont_b"),
        greatest(inter / size(col("x.grams")),
          inter / size(col("y.grams"))).as("cont_max"))
      .orderBy(col("cont_max").desc, col("doc_a"), col("doc_b"))
      .limit(20)
    assert(collect(DocQueries.containment.run(spark, corpusDir)) ==
      collect(flat))
  }

  test("simhash hamming: grouped ranking equals the brute-force " +
    "reference over the same signatures, with one giant block bucket") {
    val sig = DocQueries.simhashFrames(spark, corpusDir)
    // large-bucket precondition: at least one (j, bucket) holds > 64
    // docs, so the collapse and the 21-id bound are what equality
    // below certifies
    val maxBucket = sig
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(1))).as("j"))
      .withColumn("bucket", expr("substring(simhash, 1 + 8 * j, 8)"))
      .groupBy("j", "bucket").count()
      .agg(max("count")).head.getLong(0)
    assert(maxBucket > 64,
      s"corpus no longer holds a giant bucket (max bucket $maxBucket)")
    assert(collect(DocQueries.simhashHamming.run(spark, corpusDir)) ==
      CollapseBoundsSpec.bruteHammingTop20(sig))
  }

  test("textGroups: a crafted key collision between distinct texts " +
    "fails loudly instead of silently merging groups") {
    import spark.implicits._
    // two DISTINCT texts of EQUAL length — under the injected constant
    // key they land in one group, which only the min/max equality check
    // can catch (a real xxhash64 collision is not craftable, so the
    // key is injected; the checked property is the same)
    val dd = Seq((1L, "alpha beta gamma one"), (2L, "alpha beta gamma two"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      DocQueries.textGroups(dd, lit(0L)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("collision")),
      s"expected a collision failure, got: $e")
  }

  test("textGroups: equal texts group under the hash key exactly as " +
    "under the value key, with the canonical text preserved") {
    import spark.implicits._
    val dd = Seq((5L, "aa bb cc"), (3L, "aa bb cc"), (9L, "dd ee ff"))
      .toDF("doc_id", "text")
    val got = DocQueries.textGroups(dd)
      .orderBy("rep").collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Seq[Long]]("ids").toList,
        r.getAs[Long]("rep"), r.getAs[Long]("m"))).toList
    assert(got == List(
      ("aa bb cc", List(3L, 5L), 3L, 2L),
      ("dd ee ff", List(9L), 9L, 1L)))
  }

  test("dup clusters: component expansion equals a driver-side " +
    "union-find over the flat pair graph") {
    val g = DocQueries.gramProfilesOf(
      graft.Tables.documents(spark, corpusDir).select("doc_id", "text"))
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
    val members = parent.keys.toSeq
    val clusters = members.groupBy(find).map { case (root, ms) =>
      // cluster label = min member id (root is min by construction)
      (root, ms.size.toLong)
    }
    val expect = clusters.groupBy(_._2).toSeq.map { case (sz, cs) =>
      List(sz, cs.size.toLong, cs.map(_._1).min, cs.map(_._1).max)
    }.sortBy(_.head.asInstanceOf[Long])
    assert(collect(DocQueries.dupClusters.run(spark, corpusDir)) == expect)
  }
}

object CollapseBoundsSpec {

  /** Collected, plain-Scala brute force for the simhash top-20: every
    * pair a < b whose signatures share block 0 or block 1 (chars 1–8
    * or 9–16), hamming = the count of differing characters, ranked by
    * (hamming, doc_a, doc_b). */
  def bruteHammingTop20(sig: DataFrame): Seq[Seq[Any]] = {
    val docs = sig.select("doc_id", "simhash").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def block(s: String, j: Int) = s.substring(8 * j, 8 * j + 8)
    val pairs = for {
      i <- docs.indices; k <- i + 1 until docs.length
      (a, sa) = docs(i); (b, sb) = docs(k)
      if block(sa, 0) == block(sb, 0) || block(sa, 1) == block(sb, 1)
    } yield (sa.zip(sb).count { case (x, y) => x != y }, a, b)
    pairs.sorted.take(20).map { case (h, a, b) => List[Any](h, a, b) }
  }
}
