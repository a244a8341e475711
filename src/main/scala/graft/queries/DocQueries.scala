package graft.queries

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{NamedQuery, Tables}
import graft.ops.Ops

/** Training-data text-pipeline operators over the `documents` corpus table
  * (builder brief; SURVEY.md §7.2-6). The reference has no document
  * processing — these are the LLM-data extensions, built with the same
  * zero-UDF discipline: tokenization, hashing, minhash and simhash are all
  * codegen'd built-ins / higher-order functions, so they scale as flat
  * per-row work plus ordinary hash shuffles.
  *
  * Cross-engine determinism notes:
  *  - `md5` produces identical lowercase hex in Spark and DuckDB, so every
  *    hash-derived value (dedup keys, minhash signatures, LSH buckets,
  *    simhash bits) matches bit-for-bit.
  *  - hex digit → int is `strpos('0123456789abcdef', digit) - 1` in both.
  *  - All double averages go through the decimal-exact [[graft.ops.Ops]]
  *    helpers; per-row double arithmetic (ratios, scores) is identical
  *    IEEE evaluation order in both engines.
  *
  * The corpus vocabulary is IDENTICAL across the synthetic `lang` values
  * (31 shared words), so the language-ID query demonstrates the
  * train/classify pipeline shape deterministically rather than real
  * linguistic discrimination.
  */
object DocQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  /** Whitespace tokenization, lockstep: Spark `split(trim(text),'\s+')`
    * == DuckDB `string_split_regex(trim(text),'\s+')`. */
  private[graft] val tokSpark = "split(trim(text), '\\\\s+')"
  private[graft] val tokDuck = "string_split_regex(trim(text), '\\s+')"

  /** THE train/val/test split bucket (first md5 byte of the decimal
    * doc_id, mod 10; b<8 train, b=8 val, b=9 test) — one spelling per
    * engine, shared by every split-aware query ([[trainSplit]],
    * [[contamination]], [[fuzzyContamination]], [[corpusBuild]]) so a
    * split change can never silently decouple a consumer from the
    * assignment actually used for training. Parameterized over the
    * keyed column since r14: [[clusterSplit]] buckets the CLUSTER
    * label through the identical function, so "same id ⇒ same split"
    * holds across both granularities by construction. */
  private def bucketDuckOf(c: String) =
    s"CAST('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 2) AS BIGINT) % 10"
  private def bucketSparkOf(c: String) =
    s"cast(conv(substr(md5(cast($c AS string)), 1, 2), 16, 10) AS bigint) % 10"
  private val splitBucketDuck = bucketDuckOf("doc_id")
  private val splitBucketSpark = bucketSparkOf("doc_id")

  /** The quality stopword lexicon — one list, rendered per engine,
    * shared by [[quality]]/[[qualityQuartiles]] and [[filterFunnel]]'s
    * stage-3 gate so the funnel always filters against the same lexicon
    * the quality score reports. */
  private val Stopwords = Seq(
    "the", "a", "of", "to", "and", "in", "is", "for", "on", "with")
  private val stopListDuck = Stopwords.mkString("['", "','", "']")
  private val stopListSpark = Stopwords.mkString("array('", "','", "')")

  /** The spam lexicon for [[classifierScore]] — the negative-class half
    * of the fasttext-style linear quality classifier (the positive half
    * is the shared [[Stopwords]] fluency list, so the classifier and the
    * quality score can never disagree about what "fluent" means). */
  private val SpamWords = Seq(
    "click", "buy", "free", "win", "offer", "subscribe", "cheap", "prize")
  private val spamListDuck = SpamWords.mkString("['", "','", "']")
  private val spamListSpark = SpamWords.mkString("array('", "','", "')")

  /** All unordered id pairs of an `ids` array column, as
    * `struct<a, b>` with a < b — the in-bucket candidate generator shared
    * by the blocking-based near-dup queries (pairs are built from a
    * collect_list per bucket, never a self-join, so the expensive
    * document lineage executes once). */
  private val pairsExpr: String =
    """flatten(transform(ids, (x, i) ->
      |  transform(slice(ids, i + 2, size(ids)),
      |    y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"""
      .stripMargin.replace("\n", " ")

  /** Per-(lang, source) corpus statistics: doc counts, char totals, and
    * token counts under two tokenizers (whitespace + a BPE-ish
    * `[a-z0-9]+` regex). Pure map-side work + one low-cardinality hash
    * aggregation — the 100 TB shape for corpus profiling. */
  val textStats: NamedQuery = NamedQuery(
    "docs_text_stats",
    s"""SELECT lang, source,
       |       count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
       |       CAST(sum(len($tokDuck)) AS BIGINT) AS total_tokens,
       |       CAST(sum(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT)
       |         AS total_tokens_re
       |FROM documents
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    docs(s, d)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        sum(expr(s"size($tokSpark)").cast("long")).as("total_tokens"),
        sum(expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))").cast("long"))
          .as("total_tokens_re"))
      .orderBy("lang", "source")
  }

  /** Exact + prefix dedup cardinalities per lang: distinct full-text
    * hashes and distinct first-5-token-prefix hashes vs raw doc count.
    * The groupBy(hash) dedup shape shuffles on a near-unique key — no
    * skew, the standard 100 TB formulation. */
  val exactDedup: NamedQuery = NamedQuery(
    "docs_exact_dedup",
    s"""SELECT lang,
       |       count(*) AS n_docs,
       |       count(DISTINCT md5(text)) AS n_unique,
       |       count(DISTINCT md5(array_to_string(($tokDuck)[1:5], ' ')))
       |         AS n_prefix_unique
       |FROM documents
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    docs(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        countDistinct(
          md5(expr(s"array_join(slice($tokSpark, 1, 5), ' ')")))
          .as("n_prefix_unique"))
      .orderBy("lang")
  }

  /** The minhash permutation family: `sig_k = min over shingles of
    * (A_k·h + B_k) mod P`, where `h` is the shingle's 32-bit md5 prefix
    * reduced mod P. One md5 per shingle + 8 integer affine maps — vs 8
    * md5s per shingle for the hash-per-permutation formulation, which is
    * ~8× the per-row work for identical statistical behavior (the
    * standard universal-hashing minhash construction). Both engine twins
    * interpolate THESE constants, so they cannot drift. All arithmetic
    * stays < 2^52 — exact in BIGINT on both sides. */
  private val MinhashP = 2147483647L // 2^31 - 1
  private val MinhashPerms: Seq[(Long, Long)] = Seq(
    (1000003L, 12345L), (1000033L, 54321L), (1000037L, 98765L),
    (1000039L, 56789L), (1000081L, 13579L), (1000099L, 24680L),
    (1000117L, 86420L), (1000121L, 97531L))

  /** The DuckDB CTE chain `sh → hashed → sig → bands → cand` of the
    * minhash-LSH pipeline, parameterized by the docs source (a SQL
    * snippet providing `doc_id, text`) so the plain and dedup-first
    * variants share one definition and cannot drift.
    *
    * NOT stripped here: the text keeps its `|` margins and MUST be
    * embedded inside a stripMargin'd outer literal (stripping twice
    * would eat the first bar of any line-leading `||` operator). */
  private def minhashChainDuck(docsSrc: String): String =
    s"""sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(t)-1),
       |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM (SELECT doc_id, $tokDuck AS t FROM ($docsSrc))
       |),
       |hashed AS (
       |  SELECT doc_id, shingles,
       |         list_transform(shingles,
       |           s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)
       |                % $MinhashP) AS hs
       |  FROM sh
       |),
       |sig AS (
       |  SELECT doc_id, shingles,
       |         [${MinhashPerms.map { case (a, b) =>
             s"list_min(list_transform(hs, h -> ($a * h + $b) % $MinhashP))"
           }.mkString(",\n       |          ")}] AS sig
       |  FROM hashed
       |),
       |bands AS (
       |  SELECT doc_id, j AS band,
       |         md5(CAST(sig[2*j+1] AS VARCHAR) || '|'
       |             || CAST(sig[2*j+2] AS VARCHAR)) AS bucket
       |  FROM sig, unnest(range(0, 4)) AS u(j)
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.doc_id < b.doc_id
       |)"""

  /** Same embed-only contract as [[minhashChainDuck]]: margins intact,
    * outer literal strips. */
  private val jaccardSelectDuck: String =
    """CAST(len(list_distinct(list_intersect(x.shingles, y.shingles)))
      |            AS DOUBLE)
      |       / len(list_distinct(x.shingles || y.shingles)) AS jaccard"""

  /** Spark side of [[minhashChainDuck]]'s `sh` stage: distinct word-3-gram
    * shingles from a frame providing (doc_id, text). Tokenize into a
    * bound column FIRST: `element_at(split(...), i)` inside the lambda
    * would re-run the regex split once per array element — O(tokens²)
    * splits per document, ~30× this query's cost. */
  private[graft] def shingleFrame(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), expr(tokSpark).as("t"))
      .select(
        col("doc_id"),
        expr(
          """array_distinct(CASE WHEN size(t) < 3 THEN array()
            |ELSE transform(sequence(1, size(t) - 2),
            |  i -> concat(element_at(t, i), ' ',
            |              element_at(t, i + 1), ' ',
            |              element_at(t, i + 2))) END)""".stripMargin
            .replace("\n", " ")).as("shingles"))

  /** LSH candidate pairs (doc_a, doc_b) from a shingles frame — the
    * Spark side of [[minhashChainDuck]]'s `hashed → sig → bands → cand`
    * stages, split from the Jaccard verification so callers (the
    * cross-split contamination check) can prune candidates BEFORE the
    * expensive shingle join. */
  private[graft] def minhashCandPairs(sh: DataFrame): DataFrame =
    bandPairs(minhashBands(sh))

  /** The per-document half of the LSH chain — `hashed → sig → bands` —
    * as a compact `(doc_id, band, bucket)` frame. Split from
    * [[bandPairs]] because this half is embarrassingly per-doc (no
    * cross-document state at all), which is what lets
    * [[graft.streaming.DedupMV]] run it incrementally at ingest and
    * persist ONLY these three small columns as the index partial. */
  private[graft] def minhashBands(sh: DataFrame): DataFrame = {
    // `hs` is bound to a column BEFORE the signature lambdas so the md5 +
    // hex parse run once per shingle, not once per (shingle, permutation).
    val hashed = sh.select(col("doc_id"), col("shingles"),
      expr("transform(shingles, s -> " +
        s"cast(conv(substr(md5(s), 1, 8), 16, 10) AS bigint) % $MinhashP)")
        .as("hs"))
    val sig = hashed.select(
      col("doc_id"), col("shingles"),
      expr(MinhashPerms.map { case (a, b) =>
        s"array_min(transform(hs, h -> (${a}L * h + ${b}L) % ${MinhashP}L))"
      }.mkString("array(", ", ", ")")).as("sig"))
    sig
      .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("band"),
        col("sig"))
      .select(col("doc_id"), col("band"),
        md5(concat(
          expr("cast(element_at(sig, 2*band + 1) AS string)"), lit("|"),
          expr("cast(element_at(sig, 2*band + 2) AS string)"))).as("bucket"))
      // short docs have no shingles → null signature → null bucket; the
      // oracle's bucket equi-join drops nulls, groupBy would keep them
      .where(col("bucket").isNotNull)
  }

  /** Bucket-local candidate pair generation over a `(doc_id, band,
    * bucket)` frame. Pairs are generated INSIDE each bucket
    * (collect_list + index-lambda cross of the bucket's ids) instead of
    * a bands⋈bands self-join: the signature lineage (the md5-heavy
    * part) then executes once, where a self-join would re-execute it
    * per side — 100× wall-clock at sf0.1. Bucket membership stays the
    * scale bound either way; a bucket too big to pair in memory means
    * the band config is too coarse. `dedupBands` guards an extra
    * leading exchange: the single-frame batch lineage has one bucket
    * per (doc, band) by construction and skips it; the merge-on-read
    * caller ([[graft.streaming.DedupMV.candidates]]) sets it so a
    * doc's bands appearing in two MV blocks (a replay mid-replace)
    * cannot fabricate self-pairs. */
  private[graft] def bandPairs(bands: DataFrame,
                               dedupBands: Boolean = false): DataFrame = {
    val b =
      if (dedupBands) bands.select("doc_id", "band", "bucket").distinct()
      else bands
    b
      .groupBy("band", "bucket")
      .agg(collect_list(col("doc_id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr(pairsExpr)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** Exact shingle-Jaccard verification of a candidate-pair frame:
    * preserves every column of `cand` and appends `jaccard`. */
  private[graft] def verifyJaccard(sh: DataFrame, cand: DataFrame): DataFrame = {
    val keep = cand.columns.map(col).toSeq
    cand
      .join(sh.as("x"), col("x.doc_id") === col("doc_a"))
      .join(sh.as("y"), col("y.doc_id") === col("doc_b"))
      .select(keep :+
        (size(array_distinct(
          array_intersect(col("x.shingles"), col("y.shingles"))))
          .cast("double") /
          size(array_distinct(
            concat(col("x.shingles"), col("y.shingles"))))).as("jaccard"): _*)
  }

  /** Verified near-dup pairs (doc_a, doc_b, jaccard) from a shingles
    * frame — the Spark side of the full LSH chain, unordered/unlimited
    * so callers can enrich before the top-k cut. */
  private def minhashVerifiedPairs(sh: DataFrame): DataFrame =
    verifyJaccard(sh, minhashCandPairs(sh))

  /** MinHash + LSH near-duplicate detection — the scale path for corpus
    * dedup: word-3-gram shingles → one 32-bit hash per shingle → 8
    * affine-permutation minhash signatures → 4 bands of 2 → band-bucket
    * grouping for candidates → exact shingle-Jaccard verification →
    * top-20 pairs. Never all-pairs: candidates are generated strictly
    * inside (band, bucket) groups, so the work is bucket-local at any
    * scale. */
  /** The batch minhash-pair oracle ([[minhashPairs]]). Until round 10
    * the MV readback shared this spelling over an UNGATED index; the
    * registered readback now pairs over the gate-maintained index
    * ([[minhashPairsMv]]) with its own oracle, and the
    * ungated-equals-batch property lives on as DedupMVSpec's unit
    * assertion rather than a registered corpus-sized query. */
  private[graft] val minhashPairsSql: String =
    s"""WITH ${minhashChainDuck("SELECT doc_id, text FROM documents")}
       |SELECT doc_a, doc_b,
       |       $jaccardSelectDuck
       |FROM cand
       |JOIN sh x ON x.doc_id = doc_a
       |JOIN sh y ON y.doc_id = doc_b
       |ORDER BY jaccard DESC, doc_a, doc_b
       |LIMIT 20""".stripMargin

  /** DEMOTED from the registry (round 12), the `emb_semantic_dedup`
    * precedent: the PLAN is the correct banded-LSH one (in-bucket
    * candidates only), but the pair *output* itself is unbounded — a
    * dup clique of size m emits m²/2 pairs, and the scale corpus grows
    * every clique F×, so the 100× capture read 165× wall (45% of the
    * whole trend subset). No engine can enumerate the explicit pair
    * set of a 100 TB dup-heavy corpus; the contract the reference's
    * ReplacingMergeTree dedup actually needs
    * (sql/V1__create_trades_table.sql:13-15) is MEMBERSHIP, which the
    * registered twins carry: [[dedupThenMinhash]] (exact-clique
    * collapse before pairing, 1.1× at 100×) and [[dupClusters]]
    * (doc→representative labels, 1.3×). This val survives as the
    * bench/test CONTRAST ([[graft.Time]] keeps it runnable; DedupMVSpec
    * still pins readback-equals-batch over its lineage). */
  val minhashPairs: NamedQuery = NamedQuery(
    "docs_minhash_pairs", minhashPairsSql) { (s, d) =>
    // Deliberately NOT text-group-collapsed (unlike ngramJaccard /
    // containment / simhashHamming): this chain evaluates its shingle
    // frame three times (candidate generation + both verification
    // sides), and feeding it through a checkpointed distinct-text
    // frame measurably SLOWED the common case while the 10× clique
    // corpus barely moved — the clique answer for the minhash family
    // is the registered dedup-first twin (docs_dedup_then_minhash),
    // which removes the inflation at the lineage level instead.
    minhashVerifiedPairs(shingleFrame(docs(s, d).select("doc_id", "text")))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Exact-dedup-FIRST near-dup detection — the production pipeline
    * ordering: collapse byte-identical texts to one representative (min
    * doc_id, multiplicity retained) BEFORE the LSH pair generator ever
    * sees them. Why this ordering matters at scale: an exact-duplicate
    * clique of size m lands in the same LSH buckets and emits m²/2
    * candidate pairs of jaccard 1.0 — pure waste, since exact dups are
    * already caught by the O(n) hash groupBy. Deduping first removes
    * that quadratic term, leaving the pair generator to spend only on
    * GENUINE near-dups (the measured 10× scale-up collapse is recorded
    * in COVERAGE.md). The multiplicities ride along so downstream
    * dedup policies can still weight by copy count. Mirrors the
    * reference's dedup-before-aggregate discipline
    * (sql/V1__create_trades_table.sql:13, ReplacingMergeTree). */
  val dedupThenMinhash: NamedQuery = NamedQuery(
    "docs_dedup_then_minhash",
    s"""WITH reps AS (
       |  SELECT min(doc_id) AS doc_id, count(*) AS n_dups
       |  FROM documents
       |  GROUP BY md5(text)
       |),
       |${minhashChainDuck(
          "SELECT r.doc_id, d.text FROM reps r " +
            "JOIN documents d ON d.doc_id = r.doc_id")}
       |SELECT doc_a, doc_b,
       |       ra.n_dups AS dups_a, rb.n_dups AS dups_b,
       |       $jaccardSelectDuck
       |FROM cand
       |JOIN sh x ON x.doc_id = doc_a
       |JOIN sh y ON y.doc_id = doc_b
       |JOIN reps ra ON ra.doc_id = doc_a
       |JOIN reps rb ON rb.doc_id = doc_b
       |ORDER BY jaccard DESC, doc_a, doc_b
       |LIMIT 20""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    // pin (r17 opt): reps feeds the src join AND both n_dups joins —
    // unpinned, each consumer re-runs the corpus md5 groupBy (the plan
    // carried 8 parquet scans); same for the shingle frame, which
    // minhashVerifiedPairs consumes three times (candidate generation
    // + both verification sides). The plain minhashPairs twin stays
    // unpinned deliberately — its input lineage is ONE cheap scan, and
    // the r12 A/B measured pinning as a slowdown there; here the
    // lineage below the shingle frame is groupBy + join, which the pin
    // executes once instead of three times.
    val reps = dd
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
      .select("doc_id", "n_dups")
      .pipe(graft.ops.Ckpt.pin)
    val src = reps.select("doc_id")
      .join(dd.select("doc_id", "text"), "doc_id")
    minhashVerifiedPairs(shingleFrame(src).pipe(graft.ops.Ckpt.pin))
      .join(reps.select(col("doc_id").as("ida"), col("n_dups").as("dups_a")),
        col("ida") === col("doc_a"))
      .join(reps.select(col("doc_id").as("idb"), col("n_dups").as("dups_b")),
        col("idb") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("dups_a"), col("dups_b"),
        col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** The DuckDB twin of [[ingestDedupGate]] — the first-seen-wins
    * recursion unrolled over the four delivery blocks as chained CTEs
    * (the `emb_kmeans_train` unroll discipline): block b's in-batch
    * exact dups collapse to their min-id rep, the reps probe
    * kept(b−1), and `kept(b)` = kept(b−1) plus the reps with no
    * VERIFIED duplicate there. One `bands`/`sh` chain over the whole
    * corpus, reused per round. The block key is an md5 spread of the
    * doc id (not `doc_id % 4`): delivery order must not be correlated
    * with id arithmetic, or a strided corpus (the 10× scale build
    * shifts ids by a multiple of 4) aliases every copy of a doc into
    * one block and the gate never sees a cross-block dup. */
  /** The gate recursion's CTE chain (`src → reps → inb → kept0 →
    * dec1..3/kept1..3 → alldec`), shared by [[ingestDedupGate]]'s
    * counting readout and [[minhashPairsMv]]'s gated-index pair
    * readout — one oracle spelling of the gate, two consumers, zero
    * drift. Embeds after [[minhashChainDuck]] (needs its `bands` and
    * `sh`); margins intact, outer literal strips. */
  private val ingestGateCtesDuck: String = {
    val j =
      """CAST(len(list_distinct(list_intersect(x.shingles, y.shingles)))
        |               AS DOUBLE)
        |            / len(list_distinct(x.shingles || y.shingles))"""
        .stripMargin
    val rounds = (1 to 3).map { b =>
      s"""dec$b AS (
         |  SELECT v.doc_id,
         |         min(v.seen_id) FILTER (WHERE v.j >= 0.5) AS dup_of
         |  FROM (
         |    SELECT c.doc_id, c.seen_id, $j AS j
         |    FROM (SELECT DISTINCT n.doc_id, o.doc_id AS seen_id
         |          FROM bands n
         |          JOIN bands o ON n.band = o.band AND n.bucket = o.bucket
         |          JOIN reps s ON s.doc_id = n.doc_id AND s.block = $b
         |          JOIN kept${b - 1} k ON k.doc_id = o.doc_id) c
         |    JOIN sh x ON x.doc_id = c.doc_id
         |    JOIN sh y ON y.doc_id = c.seen_id) v
         |  GROUP BY 1
         |),
         |kept$b AS (SELECT doc_id FROM kept${b - 1}
         |           UNION ALL
         |           SELECT s.doc_id FROM reps s
         |           LEFT JOIN dec$b d ON d.doc_id = s.doc_id
         |           WHERE s.block = $b AND d.dup_of IS NULL)"""
        .stripMargin
    }.mkString(",\n")
    s"""src AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
       |              AS BIGINT) % 4 AS block,
       |         md5(text) AS th
       |  FROM documents
       |),
       |reps AS (
       |  SELECT min(doc_id) AS doc_id, th, block
       |  FROM src GROUP BY th, block
       |),
       |inb AS (
       |  SELECT s.doc_id, s.block, r.doc_id AS dup_of
       |  FROM src s
       |  JOIN reps r ON r.th = s.th AND r.block = s.block
       |  WHERE s.doc_id <> r.doc_id
       |),
       |kept0 AS (SELECT doc_id FROM reps WHERE block = 0),
       |$rounds,
       |alldec AS (SELECT doc_id, dup_of FROM dec1
       |           UNION ALL SELECT doc_id, dup_of FROM dec2
       |           UNION ALL SELECT doc_id, dup_of FROM dec3
       |           UNION ALL SELECT doc_id, dup_of FROM inb)"""
  }

  private val ingestGateSql: String =
    s"""WITH ${minhashChainDuck("SELECT doc_id, text FROM documents")},
       |$ingestGateCtesDuck
       |SELECT s.block,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(d.doc_id) AS BIGINT) AS n_flagged,
       |       CAST(count(d.dup_of) AS BIGINT) AS n_dropped,
       |       CAST(count(*) - count(d.dup_of) AS BIGINT) AS n_kept,
       |       CAST(coalesce(sum(d.dup_of), 0) AS BIGINT) AS dup_of_sum
       |FROM src s LEFT JOIN alldec d ON d.doc_id = s.doc_id
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** What one gated four-block ingest pass leaves behind: the partials
    * path now holding the GATED index (survivor bands only), plus the
    * frames its two consumers read — [[ingestDedupGate]] aggregates the
    * decisions (`src` ⟕ `alldec`), [[minhashPairsMv]] pairs over the
    * index and verifies from the rep texts (`reps`). */
  private final case class GatedIngest(
      partials: String, src: DataFrame, reps: DataFrame, alldec: DataFrame)

  /** One gated four-block ingest per (session, corpus dir): both
    * registered consumers ([[ingestDedupGate]]'s counting readout and
    * [[minhashPairsMv]]'s index readback) read the SAME ingest pass —
    * the production shape (a store is ingested once, read by every
    * query), and the `streamedIvfCache` discipline applied to the
    * dedup MV: without it every bench pass paid the 4-block
    * probe→verify→commit twice. Reuse returns the identical store and
    * identical checkpointed decision frames, so oracle hashes are
    * unchanged. Existence is re-checked per hit (a swept scratch dir
    * or `sbt clean` re-runs the ingest instead of failing the read);
    * stopped-session eviction and corpus-fingerprint staleness live in
    * [[graft.store.SessionScopedCache]] (r12 ADVICE); a concurrent
    * duplicate ingest is harmless (equivalent stores, last put wins,
    * the loser is swept as scratch). */
  private val gatedIngestCache =
    new graft.store.SessionScopedCache[GatedIngest]()

  /** The Spark side of [[ingestGateCtesDuck]] — ONE gate
    * implementation for both registered consumers, so the counting
    * readout and the gated-index readback can never drift. See
    * [[ingestDedupGate]]'s scaladoc for the gate's semantics and scale
    * argument. Cached per (session, corpus dir) — see
    * [[gatedIngestCache]]. */
  private def runIngestGate(s: SparkSession, d: String): GatedIngest =
    gatedIngestCache.getOrBuild(s, d)(g =>
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(g.partials)))(
      doRunIngestGate(s, d))

  /** The uncached ingest — the actual 4-block probe→verify→commit
    * pass; only [[runIngestGate]] calls this. */
  private def doRunIngestGate(s: SparkSession, d: String): GatedIngest = {
    import graft.streaming.DedupMV
    val partials = graft.store.Store.scratchStore("gatemv")
    val corpus = docs(s, d).select("doc_id", "text")
    // md5-spread block key — NOT id arithmetic (see the oracle's
    // scaladoc: a strided corpus would alias all copies of a doc into
    // one block and blind the gate)
    val blockCol = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long"), lit(4L))
    val src = corpus
      .select(col("doc_id"), col("text"), blockCol.as("block"),
        md5(col("text")).as("th"))
    // in-batch exact dedup: one rep (min id, its text riding the same
    // min-struct) per (text-hash, block); copies map to their rep.
    // reps — the DISTINCT working set every round re-reads — is the
    // frame worth materializing; src stays a cheap md5-over-scan.
    val reps = src.groupBy("th", "block")
      .agg(min(struct(col("doc_id"), col("text"))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
        col("block"), col("th"))
      .localCheckpoint()
    val inb = src
      .join(reps.select(col("th").as("th2"), col("block").as("block2"),
        col("doc_id").as("dup_of")),
        col("th") === col("th2") && col("block") === col("block2"))
      .where(col("doc_id") =!= col("dup_of"))
      .select(col("doc_id"), col("dup_of"))
    val jexpr =
      (size(array_distinct(
        array_intersect(col("x.shingles"), col("y.shingles"))))
        .cast("double") /
        size(array_distinct(
          concat(col("x.shingles"), col("y.shingles"))))).as("j")
    val crossDecs = (0 until 4).flatMap { b =>
      val batch = reps.where(col("block") === b).select("doc_id", "text")
      // one tokenize+minhash per rep per round, shared by the probe
      // AND (filtered to survivors) the index write
      val bandsB = DedupMV.partialBands(batch)
      val dec =
        if (b == 0) None
        else {
          // pin the PREFIX index before this block's own write lands:
          // the candidate read is eager from here on
          val cand = DedupMV.probeCandidatesFromBands(s, partials, bandsB)
            .localCheckpoint()
          val ids = cand.select(col("doc_id"))
            .union(cand.select(col("seen_id").as("doc_id")))
            .distinct()
          // candidates (both sides) are reps by construction — verify
          // from the materialized rep texts, not a corpus re-scan
          val sh = shingleFrame(reps.select("doc_id", "text")
            .join(ids, Seq("doc_id"), "left_semi"))
          Some(cand
            .join(sh.as("x"), col("x.doc_id") === cand("doc_id"))
            .join(sh.as("y"), col("y.doc_id") === col("seen_id"))
            .select(cand("doc_id"), col("seen_id"), jexpr)
            .groupBy("doc_id")
            .agg(min(when(col("j") >= 0.5, col("seen_id"))).as("dup_of"))
            .localCheckpoint())
        }
      val survivorBands = dec match {
        case None => bandsB
        case Some(dd) => bandsB.join(
          dd.where(col("dup_of").isNotNull), Seq("doc_id"), "left_anti")
      }
      DedupMV.writeBandsBlock(survivorBands, partials, blockId = b.toLong)
      dec
    }
    GatedIngest(partials, src, reps,
      (crossDecs :+ inb).reduce(_ unionByName _))
  }

  /** The O(new) ingest-time dedup gate — the production answer to the
    * dup-heavy corpus, registered end-to-end: the corpus arrives in
    * four blocks; each block is probed against the index of the blocks
    * BEFORE it ([[graft.streaming.DedupMV.probeCandidates]] — bucket-
    * keyed fetch, candidate-sized work), every candidate is verified by
    * exact shingle-Jaccard, and a doc drops iff some verified (≥ 0.5)
    * duplicate exists among the docs already KEPT — `dup_of` is the
    * smallest such, first-seen-wins. Crucially only SURVIVORS' bands
    * enter the index (`DedupMV.writeBlock` on the gated batch), which
    * is what keeps a size-m exact-dup clique O(m) end-to-end: the
    * clique's first copy is the only one ever indexed, so each later
    * copy generates ONE candidate pair instead of pairing with every
    * earlier copy. Intra-block dups are deliberately NOT flagged (a
    * batch commits atomically; in-batch dedup is the batch
    * `docs_exact_dedup` family's job). Output: per-block
    * kept/dropped/flagged counts plus the dup_of checksum, so the
    * oracle pins the MAPPING, not just the counts. Since round 11 the
    * index this gate maintains is ALSO what the registered MV readback
    * consumes ([[minhashPairsMv]]) — the gate is the write path, the
    * readback the read path, of one production index. */
  val ingestDedupGate: NamedQuery = NamedQuery(
    "docs_ingest_dedup_gate", ingestGateSql) { (s, d) =>
    val g = runIngestGate(s, d)
    g.src.select(col("doc_id"), col("block"))
      .join(g.alldec.select(col("doc_id").as("fid"), col("dup_of")),
        col("fid") === col("doc_id"), "left")
      .groupBy("block")
      .agg(count(lit(1)).as("n_docs"),
        count(col("fid")).as("n_flagged"),
        count(col("dup_of")).as("n_dropped"),
        (count(lit(1)) - count(col("dup_of"))).as("n_kept"),
        coalesce(sum(col("dup_of")), lit(0L)).as("dup_of_sum"))
      .orderBy("block")
  }

  /** Near-dup pairs read back from the GATED streaming index — the MV
    * readback discipline applied to the index a production pipeline
    * actually holds. The write path is [[runIngestGate]]: four ingest
    * blocks, each probed against the prefix index, exact-Jaccard
    * verified, and only SURVIVORS' bands committed — so an exact-dup
    * clique of size m contributes ONE indexed doc, and the read-time
    * candidate set tracks DISTINCT content, not corpus size. Committed
    * history is compacted; candidates come from the merge-on-read fold
    * over the folded + retained blocks; verification shingles ONLY the
    * (rep) docs appearing in a candidate pair — a left-semi prune
    * before any tokenization. The oracle recomputes the whole gate
    * recursion and then pairs over the kept set ([[ingestGateCtesDuck]]
    * + in-bucket pairing restricted to `kept3`), so a drift anywhere in
    * the incremental path is a hash mismatch. Until round 10 this
    * query paired over an UNGATED index of all four raw blocks — the
    * r9/r10 verdicts' named scale-killer (candidates ≈ corpus on
    * dup-heavy input, 11.9× wall at 30×); pairing over the gated
    * index removes the quadratic input instead of re-pruning it at
    * read time. The ungated-index-equals-batch-candidates property
    * remains pinned in DedupMVSpec at unit scale. */
  val minhashPairsMv: NamedQuery = NamedQuery(
    "docs_minhash_pairs_mv",
    s"""WITH ${minhashChainDuck("SELECT doc_id, text FROM documents")},
       |$ingestGateCtesDuck,
       |gb AS (
       |  SELECT b.doc_id, b.band, b.bucket
       |  FROM bands b JOIN kept3 k ON k.doc_id = b.doc_id
       |),
       |candg AS (
       |  SELECT DISTINCT ga.doc_id AS doc_a, gz.doc_id AS doc_b
       |  FROM gb ga
       |  JOIN gb gz ON ga.band = gz.band AND ga.bucket = gz.bucket
       |             AND ga.doc_id < gz.doc_id
       |)
       |SELECT doc_a, doc_b,
       |       $jaccardSelectDuck
       |FROM candg
       |JOIN sh x ON x.doc_id = doc_a
       |JOIN sh y ON y.doc_id = doc_b
       |ORDER BY jaccard DESC, doc_a, doc_b
       |LIMIT 20""".stripMargin) { (s, d) =>
    import graft.streaming.DedupMV
    val g = runIngestGate(s, d)
    DedupMV.compact(s, g.partials, throughBlockId = 2L)
    val cand = DedupMV.candidates(s, g.partials)
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    // candidates (both sides) are gate survivors, i.e. reps — verify
    // from the materialized rep texts, tokenizing only candidate docs
    val sh = shingleFrame(
      g.reps.select("doc_id", "text").join(candIds, Seq("doc_id"), "left_semi"))
    verifyJaccard(sh, cand)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** 32-bit SimHash per document: each token votes ±1 per bit position of
    * its md5; bit = 1 where the vote sum is positive (the standard
    * tf-weighted formulation — a term occurring k times votes k times).
    * Since r14 the whole signature is the fused map-side
    * [[graft.functions.SimhashSig]] expression (see
    * [[simhashFramesOf]]); the oracle keeps the explode+two-level
    * aggregation formulation — an independent derivation of the same
    * bits. ([[graft.functions.VectorSum]], which carried the vote
    * rollup in the distributed spelling, stays a registered aggregate
    * of the function surface for vector-shaped accumulation.) */
  /** The (doc_id, simhash) signature pipeline shared by the display
    * query, the hamming pairing query, and the dedup-first variant —
    * one definition per engine, parameterized by the docs source (a SQL
    * snippet providing `doc_id, text`, same contract as
    * [[minhashChainDuck]]). DuckDB side: a CTE chain ending in
    * `sh(doc_id, simhash)`. */
  private def simhashCteDuck(docsSrc: String): String =
    s"""tok AS (
       |  SELECT doc_id, unnest($tokDuck) AS tok FROM ($docsSrc)
       |),
       |bits AS (
       |  SELECT doc_id, i AS pos,
       |         CASE WHEN ((strpos('0123456789abcdef',
       |                            substr(md5(tok), 1 + i // 4, 1)) - 1)
       |                    >> (3 - i % 4)) & 1 = 1
       |              THEN 1 ELSE -1 END AS sgn
       |  FROM tok, unnest(range(0, 32)) AS u(i)
       |),
       |sums AS (SELECT doc_id, pos, sum(sgn) AS s FROM bits GROUP BY 1, 2),
       |sh AS (
       |  SELECT doc_id,
       |         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END,
       |                    '' ORDER BY pos) AS simhash
       |  FROM sums
       |  GROUP BY 1
       |)""".stripMargin

  /** Spark side of [[simhashCteDuck]] — since r14 the fused codegen'd
    * [[graft.functions.SimhashSig]] expression: the whole signature is
    * ONE map-side byte pass per document (tokenize, per-token-instance
    * MD5 digest straight to its 32-bit word, ±1 votes, 32-char
    * signature), zero exchanges. Vote sums are additive per token
    * instance, so this is arithmetic-identical to the distributed
    * spelling it replaces (hash DISTINCT (doc, token) pairs weighted
    * by count, exchange on (doc_id, tok), `graft_vec_sum` rollup) —
    * SimhashSigSpec pins fused ≡ composed per-instance votes, the
    * `docs_simhash` oracle row hash-gates the end result.
    *
    * Measured history of this shape (all at the dup-heavy corpora):
    * the distributed distinct-(doc, tok) spelling beat a map-side
    * signature built from 32 INTERPRETED `aggregate` passes (+20% at
    * sf0.1) and a per-instance-hash single-exchange variant (32.2 s vs
    * 9.5 s at 100× — per-token interpreted lambda work, not the
    * hashing, was the wall). The fused NATIVE per-instance pass
    * removes exactly that interpreted overhead AND the exchange:
    * r14 A/B in the round notes (100× `docs_simhash` 3.54 → 0.74 s
    * warm, and the 280 MB aggregation spill → 0;
    * at 100× the signature stage's exchange disappears from the
    * `docs_simhash_hamming` plan). Bit pos i of the signature is bit
    * (31 - i) of the token's big-endian first-8-hex-digit word. */
  private[graft] def simhashFrames(s: SparkSession, d: String): DataFrame =
    simhashFramesOf(s, docs(s, d))

  private def simhashFramesOf(s: SparkSession, docsDf: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docsDf.sparkSession)
    // NULL-text docs emit NO signature row — the pre-fusion explode
    // pipeline (and the oracle's unnest) dropped them implicitly, and
    // without this filter the fused expression would emit (doc_id,
    // NULL) rows whose NULL signatures then group together as
    // hamming-0 pairs in the signature collapse. The fixed corpora
    // have no NULL text; this pins the semantics for sources that do.
    docsDf.where(col("text").isNotNull)
      .select(col("doc_id"),
        expr("graft_simhash(text)").as("simhash"))
  }

  /** All docs as the signature source — the default for the plain
    * simhash queries. */
  private val allDocsSql = "SELECT doc_id, text FROM documents"

  val simhash: NamedQuery = NamedQuery(
    "docs_simhash",
    s"""WITH ${simhashCteDuck(allDocsSql)}
       |SELECT doc_id, simhash
       |FROM sh
       |ORDER BY doc_id
       |LIMIT 50""".stripMargin) { (s, d) =>
    simhashFrames(s, d)
      .orderBy("doc_id")
      .limit(50)
  }

  /** The blocking → in-bucket pairing → hamming ranking tail over an
    * `sh(doc_id, simhash)` CTE — shared by [[simhashHamming]] and
    * [[dedupThenSimhash]] (embed-only, margins intact). */
  private val hammingSelectDuck: String =
    """b AS (
      |  SELECT doc_id, simhash, j,
      |         substr(simhash, 1 + 8 * CAST(j AS INTEGER), 8) AS bucket
      |  FROM sh, unnest(range(0, 2)) AS u(j)
      |),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
      |         a.simhash AS sig_a, b2.simhash AS sig_b
      |  FROM b a
      |  JOIN b b2 ON a.j = b2.j AND a.bucket = b2.bucket
      |            AND a.doc_id < b2.doc_id
      |)
      |SELECT doc_a, doc_b,
      |       CAST(list_sum(list_transform(range(1, 33),
      |              i -> CASE WHEN substr(sig_a, i, 1)
      |                             <> substr(sig_b, i, 1)
      |                        THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
      |FROM cand
      |ORDER BY hamming, doc_a, doc_b
      |LIMIT 20"""

  /** Spark side of [[hammingSelectDuck]]: two 8-bit blocking tables,
    * block-local pair generation, top-20 by (hamming, doc_a, doc_b)
    * with the codegen'd [[graft.functions.HammingDistance]].
    *
    * SIGNATURE-GROUP COLLAPSE: docs with byte-identical signatures (the
    * dup cliques) are indistinguishable to this operator — within a
    * group every pair has hamming 0, and against any other group every
    * member scores the SAME hamming. So the pairing runs over DISTINCT
    * signatures, and hamming is computed once per GROUP pair instead of
    * once per member pair. Exact-top-20 reconstruction rests on one
    * bound, proved by counting: *21 smallest ids per side bound every
    * top-20 pair list*. If a pair (a, b) uses an id beyond its group's
    * 21st, the ≥21 smaller same-group ids each form a pair strictly
    * preceding (a, b) in the total order (same partner, smaller member —
    * on whichever side of the pair it lands), so ≥21 pairs precede it
    * and it cannot be top-20. The same argument stacks into nested
    * bounded selections whose every slice is lossless:
    *  1. per group pair, top-20 pairs come from ids21 × ids21;
    *  2. only the top-20 group pairs by (hamming, best pair) can
    *     contribute (the global cut below);
    *  3. the union of the within-group and expanded cross pairs cuts to
    *     the global k=20.
    * Within-group (hamming-0) pairs skip the join entirely: identical
    * signatures share every block bucket, so they are always
    * candidates — emitted once per group.
    *
    * Exactness of the global top-20-group-pairs cut: a group pair G
    * preceded by ≥20 group pairs in (hamming, best-pair) order
    * contributes nothing — each predecessor G' contributes at least its
    * best pair (h', a0', b0'), which precedes EVERY member pair of G
    * (h' < h, or h' = h and a0' < a0 ≤ least of any G pair, or a0' = a0
    * and b0' < b0 = min doc_b among G's least-a0 pairs). (hamming, a0,
    * b0) is unique per group pair — a0/b0 are the two group minima and
    * minima are distinct across groups — so the order is total and the
    * cut deterministic. A group pair appears at most TWICE in the join
    * output (once per block j), so the top-40 raw rows contain the
    * top-20 DISTINCT group pairs (≤ 2·19 + 2 rows can precede the
    * 20th), and the duplicate rows are column-identical, so
    * dropDuplicates keeps exact data.
    *
    * The pair term is a streamed self-join of the pinned `groups`
    * frame: group pairs flow as rows through TakeOrdered's bounded
    * per-partition heap, parallel across buckets, and both join sides
    * read the materialized frame instead of re-running the signature
    * lineage. */
  private[graft] def hammingTopPairs(sig: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(sig.sparkSession)
    val groups = sig.groupBy("simhash")
      .agg(expr("slice(array_sort(collect_list(doc_id)), 1, 21)").as("ids"))
      .pipe(graft.ops.Ckpt.pin)
    // within-group (hamming-0) pairs: one bounded emission per group
    // with ≥2 members, straight off the pinned frame (a second
    // reference to a pinned frame costs nothing)
    val within = groups.where(size(col("ids")) > 1)
      .select(explode(expr(
        """slice(flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    y -> struct(0 AS hamming, x AS doc_a, y AS doc_b)))), 1, 20)"""
          .stripMargin.replace("\n", " "))).as("p"))
      .select(col("p.hamming").as("hamming"), col("p.doc_a").as("doc_a"),
        col("p.doc_b").as("doc_b"))
    val bands = groups
      .select(col("simhash"), col("ids"),
        explode(sequence(lit(0), lit(1))).as("j"))
      .withColumn("bucket", expr("substring(simhash, 1 + 8 * j, 8)"))
    val groupPairs = bands.as("x").join(bands.as("y"),
        col("x.j") === col("y.j") && col("x.bucket") === col("y.bucket") &&
          col("x.simhash") < col("y.simhash"))
      .select(expr("graft_hamming(x.simhash, y.simhash)").as("h"),
        least(expr("element_at(x.ids, 1)"), expr("element_at(y.ids, 1)"))
          .as("a0"),
        greatest(expr("element_at(x.ids, 1)"), expr("element_at(y.ids, 1)"))
          .as("b0"),
        col("x.ids").as("xs"), col("y.ids").as("ys"))
    // top-40 raw rows ⊇ top-20 distinct group pairs (≤2 rows each);
    // duplicate rows are column-identical, so dropDuplicates is exact
    val grp20 = groupPairs
      .orderBy(col("h"), col("a0"), col("b0")).limit(40)
      .dropDuplicates("a0", "b0")
      .orderBy(col("h"), col("a0"), col("b0")).limit(20)
    // per surviving group pair, the top-20 member expansion (the
    // ids21 × ids21 counting bound) — ≤ 400 rows total
    val cross = grp20
      .select(col("h"), explode(expr(
        """slice(array_sort(flatten(transform(xs, x ->
          |  transform(ys, y -> struct(least(x, y) AS doc_a,
          |                            greatest(x, y) AS doc_b))))), 1, 20)"""
          .stripMargin.replace("\n", " "))).as("p"))
      .select(col("h").as("hamming"), col("p.doc_a").as("doc_a"),
        col("p.doc_b").as("doc_b"))
    // no distinct needed: a member pair determines its group pair
    // (each doc has exactly one signature), cross pairs are deduped at
    // group level, and within pairs (same group) are disjoint from
    // cross pairs (different groups)
    within.unionByName(cross)
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(20)
  }

  val simhashHamming: NamedQuery = NamedQuery(
    "docs_simhash_hamming",
    s"""WITH ${simhashCteDuck(allDocsSql)},
       |$hammingSelectDuck""".stripMargin) { (s, d) =>
    hammingTopPairs(simhashFrames(s, d))
  }

  /** Exact-dedup-FIRST simhash ranking — [[dedupThenMinhash]]'s
    * discipline applied to the engine's worst measured scale outlier:
    * on the dup-heavy 10× corpus, [[simhashHamming]] pays ~100× pair
    * inflation (every 8-bit block bucket holds each text's full
    * duplicate clique), while the signatures inside a clique are
    * IDENTICAL — pure waste the O(n) exact dedup removes up front.
    * Same output shape as [[simhashHamming]], computed over one
    * representative (min doc_id) per distinct text. */
  val dedupThenSimhash: NamedQuery = NamedQuery(
    "docs_dedup_then_simhash",
    s"""WITH reps AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM documents
       |  GROUP BY md5(text)
       |),
       |${simhashCteDuck(
          "SELECT r.doc_id, d.text FROM reps r " +
            "JOIN documents d ON d.doc_id = r.doc_id")},
       |$hammingSelectDuck""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    val reps = dd
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    hammingTopPairs(
      simhashFramesOf(s, reps.join(dd.select("doc_id", "text"), "doc_id")))
  }

  /** Language-ID train/classify pipeline: learn top-20 tokens per lang
    * (window rank), score every document's distinct tokens against each
    * profile (bucket join on token), predict the best-scoring lang with a
    * deterministic fixed-width tie-break key, and emit the confusion
    * matrix. (Vocab is shared across synthetic langs — see object doc.) */
  val langIdConfusion: NamedQuery = NamedQuery(
    "docs_langid_confusion",
    s"""WITH tok AS (
       |  SELECT lang, doc_id, unnest($tokDuck) AS tok FROM documents
       |),
       |tf AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2),
       |prof AS (
       |  SELECT lang, tok FROM (
       |    SELECT lang, tok,
       |           row_number() OVER (PARTITION BY lang
       |                              ORDER BY c DESC, tok) AS rk
       |    FROM tf) WHERE rk <= 20
       |),
       |doctok AS (SELECT DISTINCT doc_id, tok FROM tok),
       |scores AS (
       |  SELECT d.doc_id, p.lang AS cand, count(*) AS score
       |  FROM doctok d JOIN prof p ON d.tok = p.tok GROUP BY 1, 2
       |),
       |pred AS (
       |  SELECT doc_id,
       |         min_by(cand, printf('%05d-%s', 99999 - score, cand))
       |           AS predicted
       |  FROM scores GROUP BY 1
       |)
       |SELECT d.lang, p.predicted, count(*) AS n
       |FROM documents d JOIN pred p ON d.doc_id = p.doc_id
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val tok = docs(s, d)
      .select(col("lang"), col("doc_id"), explode(expr(tokSpark)).as("tok"))
    // ONE pass over the exploded token stream (r17 opt): tf and doctok
    // both consumed `tok` before, so the tokenize + explode lineage ran
    // twice. The (doc_id, lang, tok) count frame subsumes both — tf is
    // its (lang, tok) re-aggregation (sum of per-doc counts == the raw
    // occurrence count), doctok is its key projection (lang is
    // per-doc, so (doc_id, tok) rows stay distinct) — and is pinned:
    // doc-vocabulary-sized, input-bounded map-side state.
    val dt = tok
      .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("c"))
      .pipe(graft.ops.Ckpt.pin)
    val tf = dt.groupBy("lang", "tok").agg(sum(col("c")).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("c").desc, col("tok"))
    val prof = tf.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 20).select(col("lang"), col("tok"))
    val doctok = dt.select("doc_id", "tok")
    val scores = doctok.as("d")
      .join(prof.as("p"), col("d.tok") === col("p.tok"))
      .groupBy(col("d.doc_id").as("doc_id"), col("p.lang").as("cand"))
      .agg(count(lit(1)).as("score"))
    val pred = scores.groupBy("doc_id")
      .agg(min_by(col("cand"),
        format_string("%05d-%s", lit(99999) - col("score"), col("cand")))
        .as("predicted"))
    docs(s, d).as("d")
      .join(pred.as("p"), col("d.doc_id") === col("p.doc_id"))
      .groupBy(col("d.lang").as("lang"), col("p.predicted").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** The three per-document quality components, one definition per
    * engine — shared by [[quality]] (per-lang averages) and
    * [[qualityQuartiles]] (composite-score bucketing) so the two queries
    * cannot drift. Per-row double arithmetic is identical IEEE
    * evaluation order in both engines. */
  private val lenScoreDuck: String =
    "least(CAST(n_chars AS DOUBLE) / 500, CAST(1 AS DOUBLE))"
  private val stopRatioDuck: String =
    s"""(CAST(len(list_filter($tokDuck,
       |    t -> list_contains($stopListDuck, t)))
       |  AS DOUBLE) / len($tokDuck))""".stripMargin.replace("\n", " ")
  private val alphaRatioDuck: String =
    s"(CAST(len(regexp_extract_all(text, '[a-z]+')) AS DOUBLE)" +
      s" / len($tokDuck))"

  private def lenScoreCol: org.apache.spark.sql.Column =
    least(col("n_chars").cast("double") / 500, lit(1.0))
  private def stopRatioCol: org.apache.spark.sql.Column =
    expr(s"size(filter($tokSpark, t -> array_contains($stopListSpark, t)))")
      .cast("double") /
      expr(s"size($tokSpark)")
  private def alphaRatioCol: org.apache.spark.sql.Column =
    expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("double") /
      expr(s"size($tokSpark)")

  /** Heuristic quality scoring per document, aggregated per lang:
    * length score (chars/500 capped at 1), stopword ratio, alphabetic
    * ratio, and a weighted composite; averages are decimal-exact. */
  val quality: NamedQuery = NamedQuery(
    "docs_quality",
    s"""WITH q AS (
       |  SELECT lang,
       |         $lenScoreDuck AS len_score,
       |         $stopRatioDuck AS stop_ratio,
       |         $alphaRatioDuck AS alpha_ratio
       |  FROM documents
       |)
       |SELECT lang, count(*) AS n_docs,
       |       ${Sql.avgFloat("len_score")} AS avg_len_score,
       |       ${Sql.avgFloat("stop_ratio")} AS avg_stop_ratio,
       |       ${Sql.avgFloat(
           "0.4 * len_score + 0.3 * stop_ratio + 0.3 * alpha_ratio")}
       |         AS avg_quality
       |FROM q
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    val q = docs(s, d).select(
      col("lang"),
      lenScoreCol.as("len_score"),
      stopRatioCol.as("stop_ratio"),
      alphaRatioCol.as("alpha_ratio"))
    q.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        // ratios carry division garbage near the scale-10 grain —
        // string-route exact means (see Ops.avgFloat)
        Ops.avgFloat(col("len_score")).as("avg_len_score"),
        Ops.avgFloat(col("stop_ratio")).as("avg_stop_ratio"),
        Ops.avgFloat(lit(0.4) * col("len_score") +
          lit(0.3) * col("stop_ratio") + lit(0.3) * col("alpha_ratio"))
          .as("avg_quality"))
      .orderBy("lang")
  }

  /** Bottom-8 sketch fingerprint per document: md5 over every char
    * 8-gram, keep the 8 lexicographically smallest, concatenated (first 8
    * hex chars each). A deterministic rolling-fingerprint analogue —
    * linear per-row work, no shuffle beyond the final sort. */
  val fingerprint: NamedQuery = NamedQuery(
    "docs_fingerprint",
    """SELECT doc_id,
      |       array_to_string(list_transform(
      |         (list_sort(list_transform(range(1, len(text) - 6),
      |            i -> md5(substr(text, i, 8)))))[1:8],
      |         h -> substr(h, 1, 8)), '') AS fp
      |FROM documents
      |WHERE doc_id < 50
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d)
      .where(col("doc_id") < 50)
      .select(col("doc_id"),
        // the size guard matters: sequence(1, n-7) DESCENDS for n<8 in
        // Spark while DuckDB's range(1, n-6) is empty
        expr(
          """array_join(transform(
            |  slice(array_sort(CASE WHEN char_length(text) < 8 THEN array()
            |    ELSE transform(sequence(1, char_length(text) - 7),
            |      i -> md5(substring(text, i, 8))) END), 1, 8),
            |  h -> substring(h, 1, 8)), '')""".stripMargin.replace("\n", " "))
          .as("fp"))
      .orderBy("doc_id")
  }

  /** Normalization-then-hash dedup — the canonical cleaning stage before
    * exact dedup: lowercase, strip non-alphanumerics, collapse runs of
    * whitespace, then compare hash cardinalities against the raw text.
    * (DuckDB's regexp_replace needs the 'g' flag to match Spark's
    * replace-all semantics.) Hashes travel as 52-bit md5-prefix
    * BIGINTs, not 32-char hex strings: the two countDistincts expand
    * every row twice through the distinct-aggregate exchange, so key
    * width is paid 2× per doc — 8-byte longs at the standard
    * negligible-collision trade both engines compute identically.
    *
    * The normalization itself is the codegen'd single-pass
    * [[graft.functions.NormalizeText]] (r13): the composed
    * lower→regex→regex→trim spelling was this registry's worst 100×
    * trend line at 21.9 s warm — three full traversals of every
    * document, all map-side CPU. The fused byte loop (identical output,
    * pinned in NormalizeSpec against the composed form) took the 100×
    * warm wall to 1.4 s — a 16× win (30×: 7.1 → 1.1 s) that moves the
    * line off the worst-trend slot entirely. The oracle keeps the regex
    * spelling — the two sides compute the same strings through
    * genuinely different machinery. */
  val normalizedDedup: NamedQuery = NamedQuery(
    "docs_normalized_dedup",
    """WITH n AS (
      |  SELECT lang,
      |         trim(regexp_replace(regexp_replace(lower(text),
      |              '[^a-z0-9 ]+', '', 'g'), ' +', ' ', 'g')) AS norm,
      |         text
      |  FROM documents
      |)
      |SELECT lang,
      |       count(*) AS n_docs,
      |       count(DISTINCT CAST('0x' || substr(md5(text), 1, 13)
      |                           AS BIGINT)) AS n_raw_unique,
      |       count(DISTINCT CAST('0x' || substr(md5(norm), 1, 13)
      |                           AS BIGINT)) AS n_norm_unique,
      |       CAST(sum(len(norm)) AS BIGINT) AS norm_chars
      |FROM n
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val norm = expr("graft_normalize(text)")
    def h52(c: org.apache.spark.sql.Column) =
      expr(s"cast(conv(substr(md5(${c.toString}), 1, 13), 16, 10) AS bigint)")
    docs(s, d)
      .select(col("lang"), col("text"), norm.as("norm"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(h52(col("text"))).as("n_raw_unique"),
        countDistinct(h52(col("norm"))).as("n_norm_unique"),
        sum(length(col("norm")).cast("long")).as("norm_chars"))
      .orderBy("lang")
  }

  /** Char-4-gram profile (stride 4, docs ≥ 4 chars) + first-3-token
    * blocking bucket — the shared front end of the n-gram-Jaccard pair
    * query AND the duplicate-cluster resolution (one definition per
    * engine so the two queries' candidate sets cannot drift). The
    * 3-token prefix is a deterministic blocking key that keeps bucket
    * sizes bounded as the corpus grows (max 4 members at sf0.1 vs 14
    * for a 2-token key); grams are NON-OVERLAPPING (stride 4): a 4×
    * smaller profile with the same discriminative power for near-dup
    * ranking. Docs shorter than one gram are excluded (Jaccard 0/0). */
  private val gramCteDuck: String =
    s"""g AS (
       |  SELECT doc_id,
       |         md5(array_to_string(($tokDuck)[1:3], ' ')) AS bucket,
       |         list_distinct(list_transform(range(1, len(text) - 2, 4),
       |           i -> substr(text, i, 4))) AS grams
       |  FROM documents
       |  WHERE len(text) >= 4
       |)""".stripMargin

  private def jaccardDuck(x: String, y: String): String =
    s"CAST(len(list_intersect($x.grams, $y.grams)) AS DOUBLE) " +
      s"/ len(list_distinct($x.grams || $y.grams))"

  /** Distinct-text groups — THE text-group-collapse input, shared by
    * [[ngramJaccard]], [[containment]] and [[dupClusters]] so the
    * 21-id bound and the checkpoint discipline have one spelling.
    *
    * COLLISION-CHECKED hash key (round 9, replacing the value-exact
    * text key): grouping keys on `(xxhash64(text), char_length(text))`
    * — 16 bytes — where the text key compared and partitioned full
    * documents through the collapse family's one corpus-sized exchange.
    * Identical-by-value stays the semantic ground truth, enforced
    * rather than assumed: the aggregation carries `collect_set(text)`,
    * whose partial buffers dedup map-side — in the no-collision case
    * EXACTLY ONE text per (group, map task) rides the exchange, the
    * same text bytes the value-key spelling shipped as its key (the
    * canonical text must cross the exchange either way: every caller
    * gram-profiles the rep) — and a key collision between DISTINCT
    * texts makes the set grow past one, tripping the `assert_true`
    * below: the query dies loudly instead of silently merging
    * crafted-collision texts its raw oracle treats as distinct. The
    * check is exact over ALL members, not just the retained 21 (the
    * set ranges over the whole group), strictly stronger than a
    * retained-members re-fetch at the same payload — a join-fetch
    * would add a corpus-sized exchange to save bytes this spelling
    * never ships. What the hash key buys at 100 TB: the exchange
    * partitioner and the aggregate hash table compare 16 bytes, never
    * document-length keys. Collision odds are a real design input at
    * trillion-doc scale (~n²/2⁶⁵ same-length birthday pairs), which is
    * exactly why the check exists: detection costs one comparison per
    * group; silent merge would corrupt the ranking.
    *
    * Carries the smallest 21 member ids (the counting bound every
    * top-20 pair reconstruction rests on), the rep (min id), the
    * canonical text, and the multiplicity; checkpointed (eagerly — so
    * the collision check fires at build, not per consumer) because
    * every caller fans out into ≥2 consumers.
    *
    * `textKey` is injectable ONLY so CollapseBoundsSpec can force a
    * collision (a real xxhash64 collision is not craftable); every
    * production caller uses the default.
    *
    * NULL-text docs form NO group (filtered here, not at each
    * caller): an all-NULL group would carry an empty `collect_set`
    * and trip the collision assert, and every downstream consumer —
    * gram profiling, within-group pairing, the oracle's unnest-based
    * CTEs — already drops NULL text. Callers that must account for
    * every document ([[clusterSplit]]) key NULL-text docs on doc_id,
    * exactly like the sub-4-char texts that never gram-profile. */
  private[graft] def textGroups(
      dd: DataFrame,
      textKey: org.apache.spark.sql.Column = xxhash64(col("text")))
      : DataFrame =
    dd.where(col("text").isNotNull)
      .groupBy(textKey.as("tkey"), char_length(col("text")).as("tlen"))
      .agg(expr("slice(array_sort(collect_list(doc_id)), 1, 21)").as("ids"),
        min(col("doc_id")).as("rep"), count(lit(1)).as("m"),
        collect_set(col("text")).as("ts"))
      .select(
        when(assert_true(size(col("ts")) === 1,
          concat(lit("textGroups: text-key collision between distinct " +
            "texts in group rep "), col("rep"))).isNull,
          element_at(col("ts"), 1)).as("text"),
        col("ids"), col("rep"), col("m"), col("tkey"), col("tlen"))
      .localCheckpoint()

  /** Within-group pairs of a [[textGroups]] frame: every member pair
    * of a dup group is a self-evident maximal-similarity pair, so the
    * (a,b)-lexicographic top-20 per group ([[pairsExpr]] over the
    * already-sorted, already-21-sliced ids needs no re-sort) is
    * emitted once, gated to groups whose rep reached `profiled` —
    * mirroring the raw path, where profile-less docs never reach a
    * bucket. Callers append their constant score columns. */
  private def withinGroupPairs(tg: DataFrame,
                               profiled: DataFrame): DataFrame =
    tg.join(profiled, Seq("rep"), "left_semi")
      .where(size(col("ids")) > 1)
      .select(explode(expr(s"slice($pairsExpr, 1, 20)")).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))

  private[graft] def gramProfilesOf(docsDf: DataFrame): DataFrame =
    docsDf
      .where(expr("char_length(text) >= 4"))
      .select(col("doc_id"),
        md5(expr(s"array_join(slice($tokSpark, 1, 3), ' ')")).as("bucket"),
        expr(
          """array_distinct(transform(
            |  sequence(1, char_length(text) - 3, 4),
            |  i -> substring(text, i, 4)))""".stripMargin.replace("\n", " "))
          .as("grams"))

  /** In-bucket candidate pairs (doc_a < doc_b) of a gram-profile frame —
    * collect_list pairing (not a self-join on the full gram arrays): the
    * slim (bucket, ids) aggregate pairs ids, and only surviving pairs
    * re-join the gram sets. */
  private[graft] def inBucketPairs(g: DataFrame): DataFrame =
    g.groupBy("bucket")
      .agg(collect_list(col("doc_id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(expr(pairsExpr)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))

  /** Exact char-4-gram Jaccard of joined profiles aliased x / y. */
  private def jaccardCol: org.apache.spark.sql.Column =
    size(array_intersect(col("x.grams"), col("y.grams"))).cast("double") /
      size(array_distinct(concat(col("x.grams"), col("y.grams"))))

  /** Standalone character-4-gram Jaccard near-dup — the n-gram-Jaccard
    * family as its own pipeline (minhash uses WORD-3-gram Jaccard only as
    * its verify stage); candidate generation is bucket-local at any
    * scale (see [[gramCteDuck]]). */
  val ngramJaccard: NamedQuery = NamedQuery(
    "docs_ngram_jaccard",
    s"""WITH $gramCteDuck,
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM g a
       |  JOIN g b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b,
       |       ${jaccardDuck("x", "y")} AS jaccard
       |FROM cand
       |JOIN g x ON x.doc_id = doc_a
       |JOIN g y ON y.doc_id = doc_b
       |ORDER BY jaccard DESC, doc_a, doc_b
       |LIMIT 20""".stripMargin) { (s, d) =>
    // TEXT-GROUP COLLAPSE (the docs_dup_clusters/simhash discipline):
    // identical texts have identical gram profiles, so within-group
    // pairs are jaccard-1.0 constants and every cross pair's jaccard
    // equals its REP pair's — verified once per rep pair instead of
    // once per member pair (~100× fewer gram-set intersections on a
    // dup-heavy corpus). Exactness rests on the 21-id counting bound
    // (see hammingTopPairs): a pair using an id beyond its group's
    // 21st has ≥21 preceding pairs with the same jaccard, so per-
    // group-pair top-20 slices lose nothing; the global TakeOrdered
    // arbitrates the ≤20-per-(group|rep-pair) survivors. Each doc
    // owns exactly ONE bucket row (single first-3-token bucket), so
    // rep pairs are unique without a distinct — same as the raw
    // spelling.
    val tg = textGroups(docs(s, d))
    val g = gramProfilesOf(tg.select(col("rep").as("doc_id"), col("text")))
    val within =
      withinGroupPairs(tg, g.select(col("doc_id").as("rep")))
        .withColumn("jaccard", lit(1.0))
    val repPairs = inBucketPairs(g)
      .join(g.as("x"), col("x.doc_id") === col("doc_a"))
      .join(g.as("y"), col("y.doc_id") === col("doc_b"))
      .select(col("doc_a").as("ra"), col("doc_b").as("rb"),
        jaccardCol.as("jaccard"))
    val cross = repPairs
      .join(tg.select(col("rep").as("ra"), col("ids").as("xs")), "ra")
      .join(tg.select(col("rep").as("rb"), col("ids").as("ys")), "rb")
      .select(col("jaccard"), explode(expr(
        """slice(array_sort(flatten(transform(xs, x ->
          |  transform(ys, y ->
          |    struct(least(x, y) AS a, greatest(x, y) AS b))))), 1, 20)"""
          .stripMargin.replace("\n", " "))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
        col("jaccard"))
    within.unionByName(cross)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** TF-IDF-style distinctive tokens per source — the classic IR scoring
    * pipeline as two aggregations + a broadcastable document-frequency
    * join + a rank window. Log-free formulation (`tf × N/df` instead of
    * `tf × log(N/df)`): libm log implementations differ across engines
    * in the last ulp, while ratios of exact integer counts divide
    * identically; the ranking it induces is the same. */
  val tfidfTop: NamedQuery = NamedQuery(
    "docs_tfidf_top",
    s"""WITH tok AS (
       |  SELECT source, unnest($tokDuck) AS tok FROM documents
       |),
       |tf AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY 1),
       |df AS (SELECT tok, count(DISTINCT source) AS d FROM tok GROUP BY 1),
       |ns AS (SELECT count(DISTINCT source) AS s FROM documents),
       |scored AS (
       |  SELECT tf.source, tf.tok,
       |         (CAST(c AS DOUBLE) / n) * (CAST(s AS DOUBLE) / d) AS score
       |  FROM tf
       |  JOIN tot ON tf.source = tot.source
       |  JOIN df ON tf.tok = df.tok
       |  CROSS JOIN ns
       |)
       |SELECT source, tok, score
       |FROM (
       |  SELECT source, tok, score,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY score DESC, tok) AS rk
       |  FROM scored)
       |WHERE rk <= 3
       |ORDER BY source, tok""".stripMargin) { (s, d) =>
    val tok = docs(s, d)
      .select(col("source"), explode(expr(tokSpark)).as("tok"))
    // pin (r18 opt): tf is the (source × token) count table — vocabulary-
    // bounded, not corpus-bounded. Unpinned, tf and df each re-ran the
    // corpus tokenize + explode (the dominant map-side work) and tf's two
    // consumers re-embedded it again: 4 parquet scans. Everything below
    // derives from tf: df's count(DISTINCT source) over the raw token
    // stream equals count(*) over tf grouped by tok, because tf holds
    // exactly one row per (source, tok) — same exact longs, same score
    // doubles, oracle SQL unchanged.
    val tf = tok.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .pipe(graft.ops.Ckpt.pin)
    val tot = tf.groupBy("source")
      .agg(sum(col("c")).as("n"))
    val df = tf.groupBy("tok")
      .agg(count(lit(1)).as("d"))
    val ns = docs(s, d).agg(countDistinct(col("source")).as("s"))
    val scored = tf
      .join(tot, "source")
      .join(df, "tok")
      .crossJoin(broadcast(ns))
      .select(col("source"), col("tok"),
        ((col("c").cast("double") / col("n")) *
          (col("s").cast("double") / col("d"))).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("score").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select("source", "tok", "score")
      .orderBy("source", "tok")
  }

  /** Reproducible train/val/test assignment — the split every training
    * pipeline needs to be DETERMINISTIC across runs and engines: bucket
    * = first md5 byte of the doc id mod 10, split = 8/1/1 over buckets.
    * Pure map-side hash + low-cardinality aggregation; membership is a
    * property of the id alone, so re-runs, backfills and other engines
    * assign identically (no sampling RNG anywhere). */
  val trainSplit: NamedQuery = NamedQuery(
    "docs_train_split",
    s"""WITH s AS (
      |  SELECT lang,
      |         CASE WHEN b < 8 THEN 'train'
      |              WHEN b = 8 THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM (SELECT lang, $splitBucketDuck AS b
      |        FROM documents)
      |)
      |SELECT lang, split, count(*) AS n
      |FROM s
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val b = expr(splitBucketSpark)
    docs(s, d)
      .select(col("lang"),
        when(b < 8, "train").when(b === 8, "val").otherwise("test")
          .as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "split")
  }

  /** Per-lang sampling percentages for the stratified sample: downsample
    * the over-represented language, keep more of the rest — the standard
    * training-mix rebalance. Interpolated into BOTH twins. */
  private val SamplePct: Map[String, Int] = Map("en" -> 25).withDefaultValue(60)

  private def pctCaseSql(langCol: String): String =
    s"CASE WHEN $langCol = 'en' THEN ${SamplePct("en")} " +
      s"ELSE ${SamplePct("other")} END"

  /** Deterministic stratified sampling — per-language hash-threshold
    * sampling (en 25 %, others 60 %): membership is a pure function of
    * `md5(doc_id)`, so re-runs, backfills and other engines draw the
    * SAME sample (no RNG, unlike `TABLESAMPLE`). The salt prefix
    * decorrelates this draw from the train/val/test assignment
    * ([[trainSplit]] buckets on unsalted md5). Map-side only + one
    * low-cardinality aggregation — no shuffle grows with the corpus. */
  val stratifiedSample: NamedQuery = NamedQuery(
    "docs_stratified_sample",
    s"""WITH s AS (
       |  SELECT lang, n_chars,
       |         CAST('0x' || substr(md5('s-' || CAST(doc_id AS VARCHAR)), 1, 8)
       |              AS BIGINT) % 100 AS h,
       |         ${pctCaseSql("lang")} AS pct
       |  FROM documents
       |)
       |SELECT lang,
       |       count(*) AS n_total,
       |       CAST(count(*) FILTER (WHERE h < pct) AS BIGINT) AS n_sampled,
       |       CAST(coalesce(sum(n_chars) FILTER (WHERE h < pct), 0) AS BIGINT)
       |         AS sampled_chars
       |FROM s
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    val h = expr(
      "cast(conv(substr(md5(concat('s-', cast(doc_id AS string))), 1, 8), 16, 10) AS bigint) % 100")
    val pct = when(col("lang") === "en", SamplePct("en"))
      .otherwise(SamplePct("other"))
    docs(s, d)
      .select(col("lang"), col("n_chars"), h.as("h"), pct.as("pct"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("h") < col("pct"), 1)).as("n_sampled"),
        coalesce(sum(when(col("h") < col("pct"), col("n_chars"))), lit(0L))
          .as("sampled_chars"))
      .orderBy("lang")
  }

  /** Per-document composite quality score — built from the SAME shared
    * component expressions as [[quality]] (see [[lenScoreDuck]] etc.). */
  private val scoreDuck: String =
    s"0.4 * $lenScoreDuck + 0.3 * $stopRatioDuck + 0.3 * $alphaRatioDuck"

  private def scoreSpark: org.apache.spark.sql.Column =
    lit(0.4) * lenScoreCol + lit(0.3) * stopRatioCol +
      lit(0.3) * alphaRatioCol

  /** Quality-quartile bucketing — `ntile(4)` per language over the
    * composite score (quartile membership is what a curriculum/filtering
    * stage consumes). The window partitions BY LANG, so each sort is
    * per-group; tie-free total order via (score, doc_id). Scale note: a
    * GLOBAL quantile bucketing at 100 TB should compute boundary values
    * first (the `trades_price_quantiles` exact-rank shape, or a sketch)
    * and band-join them broadcast — a windowed ntile over one partition
    * would funnel the corpus through one task; per-lang partitions keep
    * parallelism = #langs here, acceptable for bounded strata. */
  val qualityQuartiles: NamedQuery = NamedQuery(
    "docs_quality_quartiles",
    s"""WITH q AS (
       |  SELECT lang, n_chars, $scoreDuck AS score,
       |         ntile(4) OVER (PARTITION BY lang
       |                        ORDER BY $scoreDuck, doc_id) AS quartile
       |  FROM documents
       |)
       |SELECT lang, quartile,
       |       count(*) AS n_docs,
       |       min(score) AS min_score,
       |       max(score) AS max_score,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM q
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("score"), col("doc_id"))
    docs(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        scoreSpark.as("score"))
      // ntile is INT in Spark, BIGINT in DuckDB — align the key type
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy("lang", "quartile")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang", "quartile")
  }

  /** Near-dup pairs become CLUSTERS here — both twins use this Jaccard
    * threshold over the same char-4-gram profiles as [[ngramJaccard]]. */
  private val ClusterTau = 0.9

  /** Duplicate-cluster resolution — the step after pair generation that a
    * real dedup pipeline needs (near-dup is transitive only through
    * chains: A~B, B~C ⇒ one cluster even when A≁C, and keep-one-per-PAIR
    * would over- or under-drop). Connected components over the
    * ngram-Jaccard near-dup graph via min-label propagation with a
    * pointer-doubling shortcut each round (see [[repClusterLabels]]),
    * converging in O(log diameter) rounds — near-dup cliques are
    * shallow, but an adversarial chain no longer costs its full
    * diameter in Spark jobs. This is the standard distributed-CC shape: nothing is
    * ever collected driver-side except the 2-value convergence probe, and
    * the edge set is checkpointed so each round re-reads materialized
    * edges, not the md5-heavy gram lineage. The oracle derives the same
    * fixpoint independently via a recursive CTE (min reachable id), so
    * the iteration count cannot leak into the result. Output: cluster
    * size histogram + min/max cluster representative. */
  /** The near-dup connected-component labeling as a DuckDB CTE chain
    * (requires `WITH RECURSIVE` and [[gramCteDuck]] in scope): `lab`
    * maps every doc that HAS an edge to its component's min doc_id.
    * Shared by [[dupClusters]] and [[clusterSplit]] so both operate on
    * the same component structure by construction. */
  private val componentLabDuck: String =
    s"""pairs AS (
       |  SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM g a
       |  JOIN g b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  WHERE ${jaccardDuck("a", "b")} >= $ClusterTau
       |),
       |e AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |reach AS (
       |  SELECT id, id AS label FROM nodes
       |  UNION
       |  SELECT e.src AS id, r.label FROM e JOIN reach r ON e.dst = r.id
       |),
       |lab AS (SELECT id, min(label) AS cluster FROM reach GROUP BY 1)"""
      .stripMargin

  /** Connected-component labels of a rep-level near-dup graph by
    * min-label propagation WITH POINTER DOUBLING (r15) — the
    * distributed half of [[componentLabDuck]], factored out of
    * [[dupClusters]] (r14) so [[clusterSplit]] shares it. Returns
    * `(id, label)` for every rep that has at least one edge; reps
    * without edges are absent (their component is themselves —
    * callers COALESCE). The O(1)-row convergence probe (monotone
    * label sum) is the only driver-side data in the loop; a
    * capped-out loop throws rather than returning a near-answer,
    * because the oracle computes the true fixpoint.
    *
    * Each round is (a) one edge-propagation step — every node takes
    * the min label over its closed neighborhood — followed by (b) one
    * SHORTCUT step — every node replaces its label by its label's
    * label (path halving, the pointer-doubling idea behind
    * large-star/small-star CC à la Kiveris et al., "Connected
    * Components in MapReduce and Beyond"). Propagation alone needs
    * O(diameter) rounds (2×diameter Spark jobs — an adversarial
    * long-chain component at 100 TB pays the full chain); with the
    * shortcut the reach from the component minimum roughly doubles
    * per round, so convergence is O(log diameter) — pinned by
    * CcChainSpec on a constructed diameter-39 path (measured 6 rounds,
    * asserted ≤10, where plain propagation needs 39+1; the chain is
    * built from TEXTS through the production bucket/Jaccard rule, not
    * injected edges). Invariants the fixpoint argument
    * rests on: label(x) ≤ x always (initial label = id; min includes
    * self; shortcut moves to label(label(x)) ≤ label(x)), labels are
    * always ids of same-component nodes, and the per-node label is
    * monotone non-increasing — so the sum probe converges exactly at
    * the propagation fixpoint, where labels are constant per
    * component and therefore the component minimum. Same fixpoint as
    * the pre-r15 plain propagation: the oracle rows of
    * `docs_dup_clusters` / `docs_cluster_split` gate it unchanged. */
  private def repClusterLabels(g: DataFrame): DataFrame =
    repClusterLabelsWithRounds(g)._1

  private[graft] def repClusterLabelsWithRounds(g: DataFrame)
      : (DataFrame, Int) = {
    val pairs = inBucketPairs(g)
      .join(g.as("x"), col("x.doc_id") === col("doc_a"))
      .join(g.as("y"), col("y.doc_id") === col("doc_b"))
      .where(jaccardCol >= ClusterTau)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // materialize the edge set once: every propagation round re-reads
    // THIS, not the md5/gram lineage. Cluster safety is the
    // [[graft.ops.Ckpt]] knob now, not a comment: `local` (default)
    // for the single-JVM harness, `disk`/`reliable` where executor
    // loss must not kill the loop.
    val edges = pairs
      .unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .pipe(graft.ops.Ckpt.pin)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).collect()(0).getLong(0)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    // O(log diameter) with the shortcut step — 50 covers a diameter
    // beyond 2^50 while remaining the same hard stop the plain
    // propagation had
    val MaxRounds = 50
    // ADAPTIVE SHORTCUT (r16, the r15-verdict clawback): the first two
    // rounds run PLAIN propagation — real near-dup components are
    // cliques and shallow chains that converge inside the warmup, so
    // the common case pays zero shortcut constant (the r15
    // always-shortcut spelling cost sf0.1 a measured ~1 s of self-join
    // + checkpoint per round that its shallow graph could never repay).
    // From round 3 the path-halving shortcut engages, so an
    // adversarial long chain still converges in warmup + O(log
    // diameter) rounds — CcChainSpec pins ≤10 rounds at diameter 39.
    val ShortcutWarmup = 2
    while (!converged && rounds < MaxRounds) {
      val prop = edges
        .join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"))
      val once = prop.unionByName(labels)
        .groupBy("id").agg(min(col("label")).as("label"))
        .pipe(graft.ops.Ckpt.pin) // truncate the per-round lineage; also the
        // self-join below needs distinct attribute lineage on its two
        // sides (a union-derived frame self-joined trips Catalyst's
        // constraint rewrite on ambiguous ids)
      // shortcut (path halving): label ← label's label. Every label
      // value is itself a node id of the labels frame (initial labels
      // are ids; both steps only copy existing labels), so the join
      // always hits — the coalesce is belt-and-braces for the root,
      // whose label is itself.
      val next =
        if (rounds < ShortcutWarmup) once
        else once.as("a")
          .join(once.select(col("id").as("lid"), col("label").as("llab"))
            .as("b"), col("a.label") === col("lid"), "left")
          .select(col("a.id").as("id"),
            coalesce(col("llab"), col("a.label")).as("label"))
      val nextSum = labelSum(next)
      converged = prevSum == nextSum
      prevSum = nextSum
      labels = next
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"near-dup label propagation did not converge in $MaxRounds rounds")
    (labels, rounds)
  }

  val dupClusters: NamedQuery = NamedQuery(
    "docs_dup_clusters",
    s"""WITH RECURSIVE $gramCteDuck,
       |$componentLabDuck,
       |sizes AS (SELECT cluster, count(*) AS sz FROM lab GROUP BY 1)
       |SELECT CAST(sz AS BIGINT) AS cluster_size,
       |       count(*) AS n_clusters,
       |       min(cluster) AS min_rep,
       |       max(cluster) AS max_rep
       |FROM sizes
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    // TEXT-GROUP COLLAPSE before the graph (the simhash-hamming
    // discipline applied to connected components): byte-identical
    // texts have identical gram profiles, so they share every bucket,
    // every jaccard-1 within-edge, and every cross-edge — the raw
    // graph's components are EXACTLY the expansion of the
    // distinct-text graph's components, with sizes as multiplicity
    // sums and the same min-doc-id labels (each group's rep IS its
    // minimum id). On the dup-heavy 10× corpus this removes the ~100×
    // clique edge inflation from BOTH the pair generation and every
    // propagation round. Two reconstruction cases: reps in the rep
    // graph expand by multiplicity; a dup group (m ≥ 2) whose rep has
    // a profile but NO cross edges is its own raw component (its
    // members pairwise share buckets at jaccard 1) and re-enters as a
    // singleton cluster of size m.
    val tg = textGroups(docs(s, d))
    val g = gramProfilesOf(tg.select(col("rep").as("doc_id"), col("text")))
    val labels = repClusterLabels(g)
    // expand rep-level components back to document counts
    val mult = tg.select(col("rep").as("id"), col("m"))
    val clustered = labels.join(mult, "id").select("label", "m")
    val soloDups = mult
      .join(g.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .join(labels.select("id"), Seq("id"), "left_anti")
      .where(col("m") >= 2)
      .select(col("id").as("label"), col("m"))
    clustered.unionByName(soloDups)
      .groupBy("label").agg(sum(col("m")).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(
        count(lit(1)).as("n_clusters"),
        min(col("label")).as("min_rep"),
        max(col("label")).as("max_rep"))
      .orderBy("cluster_size")
  }

  /** Dedup-aware train/val/test split (r14) — the split-integrity
    * operator a training pipeline runs so near-duplicates never
    * straddle the eval boundary: hashing each doc_id independently
    * ([[trainSplit]]'s bucket) puts ~16% of every near-dup cluster's
    * pairs across the train/test line (2·0.8·0.1 — contamination by
    * construction, before any gram is compared); bucketing the CLUSTER
    * label through the SAME md5 function moves whole clusters
    * together, making cross-split leakage structurally zero while
    * keeping the expected split fractions. Clusters are
    * [[dupClusters]]' components (shared [[componentLabDuck]] /
    * [[repClusterLabels]] machinery); docs outside the near-dup graph
    * — unique texts, and sub-4-char texts that never gram-profile
    * (the [[gramProfilesOf]]/[[gramCteDuck]] filter, mirrored here by
    * keying them on doc_id rather than their text-group rep) — are
    * their own singleton cluster, so their assignment coincides with
    * the naive split and only genuine near-dup members can move.
    *
    * One summary row, all BIGINT (no float drift): corpus/cluster
    * counts, the naive split's leaky clusters and cross-split pair
    * count, test-set sizes under both assignments, docs whose
    * train/val/test class changes, and the cluster split's own leak
    * count — zero by construction but ASSERTED IN DATA, not assumed.
    *
    * Shape at 100 TB: the heavy piece is the component labeling the
    * registry already pays in [[dupClusters]] (collapsed rep graph,
    * bounded edge set); new cost is one full-text group join (the
    * exact-value spelling — [[textGroups]]' 16-byte hash key is the
    * width optimization when documents are large), one cluster-keyed
    * hash aggregate, and a one-row rollup. Nothing is pairwise. */
  val clusterSplit: NamedQuery = NamedQuery(
    "docs_cluster_split",
    s"""WITH RECURSIVE $gramCteDuck,
       |$componentLabDuck,
       |cl AS (
       |  SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
       |),
       |sp AS (
       |  SELECT doc_id, cluster,
       |         ${bucketDuckOf("doc_id")} AS nb,
       |         ${bucketDuckOf("cluster")} AS cb
       |  FROM cl
       |),
       |pc AS (
       |  SELECT cluster,
       |         count(*) AS n,
       |         count(CASE WHEN nb < 8 THEN 1 END) AS tr,
       |         count(CASE WHEN nb = 9 THEN 1 END) AS te,
       |         count(CASE WHEN cb < 8 THEN 1 END) AS ctr,
       |         count(CASE WHEN cb = 9 THEN 1 END) AS cte,
       |         count(CASE WHEN
       |             (CASE WHEN nb < 8 THEN 0 WHEN nb = 8 THEN 1 ELSE 2 END)
       |          <> (CASE WHEN cb < 8 THEN 0 WHEN cb = 8 THEN 1 ELSE 2 END)
       |           THEN 1 END) AS moved
       |  FROM sp GROUP BY 1
       |)
       |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |       count(*) AS n_clusters,
       |       count(CASE WHEN n >= 2 THEN 1 END) AS n_multi_clusters,
       |       count(CASE WHEN tr > 0 AND te > 0 THEN 1 END)
       |         AS naive_leaky_clusters,
       |       CAST(COALESCE(sum(tr * te), 0) AS BIGINT)
       |         AS naive_cross_pairs,
       |       CAST(sum(te) AS BIGINT) AS n_test_naive,
       |       CAST(sum(cte) AS BIGINT) AS n_test_cluster,
       |       CAST(sum(moved) AS BIGINT) AS n_docs_moved,
       |       count(CASE WHEN ctr > 0 AND cte > 0 THEN 1 END)
       |         AS cluster_leaky_clusters
       |FROM pc""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    val tg = textGroups(dd)
    val g = gramProfilesOf(tg.select(col("rep").as("doc_id"), col("text")))
    val labels = repClusterLabels(g)
    // doc → rep on textGroups' 16-byte collision-checked key, NOT the
    // full text (r15): at 100 TB document sizes the doc→group exchange
    // ships (hash, length) per row instead of the document bytes —
    // exchange-width A/B at 30× in COVERAGE.md's round-15 notes.
    // Collision-safe transitively: every doc's own text
    // IS in some group with this key, and textGroups' assert_true
    // guarantees at most one group per key, so the matched group is
    // the doc's. The join is LEFT so a NULL-text doc (no group, NULL
    // tlen never matches) keys on doc_id like the sub-4-char texts —
    // mirroring the oracle's `FROM documents d LEFT JOIN lab`.
    val docRep = dd.select(col("doc_id"),
        xxhash64(col("text")).as("tkey"),
        char_length(col("text")).as("tlen"))
      .join(tg.select(col("tkey"), col("tlen"), col("rep")),
        Seq("tkey", "tlen"), "left")
      .select(col("doc_id"),
        when(col("tlen").isNull || col("tlen") < 4 || col("rep").isNull,
          col("doc_id")).otherwise(col("rep")).as("rep"))
    val docCluster = docRep
      .join(labels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("rep")).as("cluster"))
    val sp = docCluster.select(
      col("cluster"),
      expr(bucketSparkOf("doc_id")).as("nb"),
      expr(bucketSparkOf("cluster")).as("cb"))
    def cls(c: org.apache.spark.sql.Column) =
      when(c < 8, 0).when(c === 8, 1).otherwise(2)
    val pc = sp.groupBy("cluster").agg(
      count(lit(1)).as("n"),
      count(when(col("nb") < 8, 1)).as("tr"),
      count(when(col("nb") === 9, 1)).as("te"),
      count(when(col("cb") < 8, 1)).as("ctr"),
      count(when(col("cb") === 9, 1)).as("cte"),
      count(when(cls(col("nb")) =!= cls(col("cb")), 1)).as("moved"))
    pc.agg(
      sum(col("n")).as("n_docs"),
      count(lit(1)).as("n_clusters"),
      count(when(col("n") >= 2, 1)).as("n_multi_clusters"),
      count(when(col("tr") > 0 && col("te") > 0, 1))
        .as("naive_leaky_clusters"),
      coalesce(sum(col("tr") * col("te")), lit(0L)).as("naive_cross_pairs"),
      sum(col("te")).as("n_test_naive"),
      sum(col("cte")).as("n_test_cluster"),
      sum(col("moved")).as("n_docs_moved"),
      count(when(col("ctr") > 0 && col("cte") > 0, 1))
        .as("cluster_leaky_clusters"))
  }

  /** Bigram language-model counts — the n-gram statistics stage of an LM
    * data pipeline: adjacent-token pairs per document, global bigram
    * counts, then the top-3 continuations for each of the 10 most
    * frequent head tokens (count-desc, token-asc tie-breaks everywhere).
    * Pair generation is a per-row array transform (no self-join); counts
    * are two hash aggregations; the head filter joins against a 10-row
    * broadcast. */
  val bigramLm: NamedQuery = NamedQuery(
    "docs_bigram_lm",
    s"""WITH t AS (SELECT doc_id, $tokDuck AS toks FROM documents),
       |bg AS (
       |  SELECT unnest(list_transform(range(1, len(toks)),
       |           i -> struct_pack(prev := toks[i], nxt := toks[i+1]))) AS b
       |  FROM t WHERE len(toks) >= 2
       |),
       |counts AS (
       |  SELECT b.prev AS prev, b.nxt AS nxt, count(*) AS c
       |  FROM bg GROUP BY 1, 2
       |),
       |heads AS (
       |  SELECT prev, CAST(sum(c) AS BIGINT) AS head_n
       |  FROM counts GROUP BY 1
       |  ORDER BY head_n DESC, prev LIMIT 10
       |)
       |SELECT h.prev AS prev, h.head_n, c.nxt, c.c AS n
       |FROM heads h
       |JOIN counts c ON c.prev = h.prev
       |QUALIFY row_number() OVER (PARTITION BY h.prev
       |                           ORDER BY c.c DESC, c.nxt) <= 3
       |ORDER BY head_n DESC, h.prev, n DESC, nxt""".stripMargin) { (s, d) =>
    val t = docs(s, d).select(expr(tokSpark).as("toks"))
      .where(size(col("toks")) >= 2)
    val counts = t
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS prev,
          |              element_at(toks, i + 1) AS nxt))"""
          .stripMargin.replace("\n", " "))).as("b"))
      .groupBy(col("b.prev").as("prev"), col("b.nxt").as("nxt"))
      .agg(count(lit(1)).as("c"))
    val heads = counts.groupBy("prev")
      .agg(sum(col("c")).as("head_n"))
      .orderBy(col("head_n").desc, col("prev"))
      .limit(10)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("prev").orderBy(col("c").desc, col("nxt"))
    counts
      .join(broadcast(heads), "prev")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("prev"), col("head_n"), col("nxt"), col("c").as("n"))
      .orderBy(col("head_n").desc, col("prev"), col("n").desc, col("nxt"))
  }

  /** LM-frequency surprise scoring — the log-free analogue of the
    * KenLM-perplexity quality filter (CCNet): score each document by how
    * unusual its word bigrams are under the corpus-wide bigram counts,
    * and surface the 20 most surprising documents. Perplexity itself is
    * a geometric mean of inverse probabilities; logs differ across libm
    * implementations in the last ulp (the [[tfidfTop]] lesson), so the
    * score here is count-space: `mean_c` = mean corpus frequency of the
    * doc's bigram occurrences and `rare_frac` = fraction occurring
    * nowhere else, each ONE division of two BIGINT sums — exact
    * integers until a single identical IEEE division in both engines,
    * and the ranking they induce is the perplexity ranking's intent
    * (low mean frequency == high surprise). Bigrams travel as 52-bit
    * ids — per-token md5 prefixes folded pairwise, the
    * [[contamination]] gram representation at n=2 — so the count join
    * shuffles 8-byte longs, no per-bigram string concat or md5 exists
    * anywhere, and collisions fold counts identically in both engines. Shape at
    * 100 TB: bigram explode is map-side; corpus counts are ONE hash agg
    * on a near-unique skew-free long key; the score join re-uses that
    * same key partitioning (in production the count table is the
    * persisted LM artifact, bucketed by `g`, so re-scoring new corpora
    * shuffles only the document side); the tail is a 20-row TakeOrdered.
    * Docs with fewer than 2 tokens carry no bigrams and are out of
    * scope of an LM score, exactly as in [[bigramLm]]. */
  val lmSurprise: NamedQuery = NamedQuery(
    "docs_lm_surprise",
    s"""WITH t AS (SELECT doc_id, lang, $tokHashListDuck AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, lang,
       |         unnest(list_transform(range(1, len(t)),
       |           i -> ${gramFold(j => s"t[i + $j]", 2)})) AS g
       |  FROM t WHERE len(t) >= 2
       |),
       |counts AS (SELECT g, count(*) AS c FROM bg GROUP BY 1),
       |scored AS (
       |  SELECT b.doc_id, b.lang,
       |         CAST(count(*) AS BIGINT) AS n_bi,
       |         CAST(sum(c.c) AS BIGINT) AS sum_c,
       |         CAST(count(*) FILTER (WHERE c.c = 1) AS BIGINT) AS n_rare
       |  FROM bg b JOIN counts c USING (g)
       |  GROUP BY 1, 2
       |)
       |SELECT doc_id, lang, n_bi,
       |       CAST(sum_c AS DOUBLE) / CAST(n_bi AS DOUBLE) AS mean_c,
       |       CAST(n_rare AS DOUBLE) / CAST(n_bi AS DOUBLE) AS rare_frac
       |FROM scored
       |ORDER BY mean_c, doc_id
       |LIMIT 20""".stripMargin) { (s, d) =>
    // hashed-bigram list = the n=2 width of the fused gram expression
    // ([[graft.functions.GramIds]], r14 — was the composed nested-
    // transform spelling): the Generate emits 8-byte longs directly,
    // no per-bigram string concat + md5, no interpreted lambdas
    graft.functions.GraftFunctions.register(s)
    // BOUNDED-STATE shape (r17, r16-verdict task 1), the [[sourceNovelty]]
    // two-level discipline applied to a COUNTING query: every LM figure
    // here is a pure function of a document's TEXT, so the corpus first
    // collapses to its distinct-text histogram (md5 key + multiplicity
    // w — the [[bpeTrain]] word-type-histogram move at document
    // granularity; partial-agg state ∝ the task's distinct documents,
    // input-bounded), grams explode ONCE per distinct text, and the
    // stream is hash-partitioned by gram id so the corpus-count agg and
    // the count join both run post-exchange with vocab/partitions keys
    // per task — the r16 spelling's map-side count agg held the whole
    // vocabulary per task (the measured 300× spill class), and a
    // repartition-only fix shuffled every duplicated document's grams
    // (measured 34.1 s vs ~12 s at the dup-heavy 300× point).
    // Occurrence counts keep multiplicity via sum(w); per-doc stats are
    // computed per distinct text and expanded back through an md5-keyed
    // join (near-unique key, no skew), so dup docs score identically —
    // exactly the old per-doc arithmetic, oracle-gated unchanged.
    val types = docs(s, d)
      .select(md5(col("text")).as("h"), col("text"))
      .groupBy("h")
      .agg(first(col("text")).as("text"), count(lit(1)).as("w"))
    val tg = types
      .select(col("h"), col("w"),
        explode(expr("graft_gram_ids(text, 2)")).as("g"))
      .repartition(col("g"))
      // pin the shared gram stream (r17 opt): counts and the per-text
      // score below both consume tg — unpinned, each re-embeds the
      // scan → distinct-text histogram → explode lineage in the plan
      // (duplicated subtrees, duplicate execution where AQE cannot
      // prove exchange reuse); pinned, both read one materialization
      .pipe(graft.ops.Ckpt.pin)
    val counts = tg.groupBy("g").agg(sum(col("w")).as("c"))
    val perText = tg.join(counts, "g")
      .groupBy("h")
      .agg(
        count(lit(1)).as("n_bi"),
        sum(col("c")).as("sum_c"),
        count(when(col("c") === 1, 1)).as("n_rare"))
    docs(s, d)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
      .join(perText, "h")
      .select(col("doc_id"), col("lang"), col("n_bi"),
        (col("sum_c").cast("double") / col("n_bi").cast("double"))
          .as("mean_c"),
        (col("n_rare").cast("double") / col("n_bi").cast("double"))
          .as("rare_frac"))
      .orderBy(col("mean_c"), col("doc_id"))
      .limit(20)
  }

  /** Per-source marginal vocabulary contribution — the greedy
    * data-VALUATION primitive behind source selection in corpus
    * curation (the submodular-coverage view: when sources are added in
    * a fixed greedy order, each one's value is the vocabulary it
    * contributes that no earlier source did; near-duplicate sources
    * score ~0 novel mass no matter how many documents they add).
    * Vocabulary = hashed word-BIGRAM ids (the fused
    * [[graft.functions.GramIds]] 52-bit fold at n=2, same lockstep
    * spelling as [[lmSurprise]]), so the whole computation moves
    * 8-byte longs. Output: one row per source — doc count, distinct
    * bigrams, NOVEL bigrams (those whose lexicographically-first
    * holder this source is), and the running coverage per-mille in
    * exact integer arithmetic (BIGINT `div`, no float drift).
    *
    * Shape at 100 TB: per-doc `array_distinct` settles doc-local dups
    * map-side; ONE gram-keyed exchange of 8-byte pairs feeds BOTH the
    * (source, gram) distinct and the gram-keyed `min(source)` agg with
    * per-task state bounded at vocab/partitions (the r17 bounded-state
    * shape — see the inline comment for the measured spill-vs-exchange
    * arithmetic); grams near-unique ⇒ no skew; everything after is a
    * ≤|sources|-row frame. Nothing is pairwise in sources or documents.
    *
    * NULL sources (r16, was an r15 ADVICE gap): a NULL source would
    * diverge between engines — Spark ORDER BY puts NULLs first, DuckDB
    * last, and the cumulative per-mille then disagrees. Both spellings
    * coalesce NULL source to '' at the scan (sorts first in BOTH
    * engines), so the semantics no longer depend on the corpus having
    * no NULL sources. */
  val sourceNovelty: NamedQuery = NamedQuery(
    "docs_source_novelty",
    s"""WITH t AS (SELECT doc_id, COALESCE(source, '') AS source,
       |                  $tokHashListDuck AS t
       |           FROM documents),
       |bg0 AS (
       |  SELECT source,
       |         unnest(list_transform(range(1, len(t)),
       |           i -> ${gramFold(j => s"t[i + $j]", 2)})) AS g
       |  FROM t WHERE len(t) >= 2
       |),
       |bg AS (SELECT DISTINCT source, g FROM bg0),
       |ng AS (SELECT source, count(*) AS n_grams FROM bg GROUP BY 1),
       |nov AS (SELECT min(source) AS source FROM bg GROUP BY g),
       |nv AS (SELECT source, count(*) AS novel_grams FROM nov GROUP BY 1),
       |dc AS (SELECT COALESCE(source, '') AS source, count(*) AS n_docs
       |       FROM documents GROUP BY 1),
       |j AS (
       |  SELECT d.source, d.n_docs,
       |         COALESCE(ng.n_grams, 0) AS n_grams,
       |         COALESCE(nv.novel_grams, 0) AS novel_grams
       |  FROM dc d
       |  LEFT JOIN ng USING (source)
       |  LEFT JOIN nv USING (source)
       |)
       |SELECT source, n_docs, n_grams, novel_grams,
       |       CAST(sum(novel_grams) OVER (ORDER BY source) * 1000
       |            // (SELECT sum(novel_grams) FROM j) AS BIGINT)
       |         AS cum_coverage_pm
       |FROM j
       |ORDER BY source""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    // BOUNDED-STATE shape (r17, r16-verdict task 1), two levels — both
    // with per-task state ∝ task INPUT, never ∝ corpus vocabulary:
    //  1. TEXT-LEVEL COLLAPSE first (the repo's dedup-before-work
    //     discipline): distinct (source, text) — its partial agg's
    //     hash table holds the task's distinct documents (input-
    //     bounded), and on a dup-heavy corpus it collapses F-copy
    //     cliques BEFORE any gram exists (at 300× this is a 300:1 cut
    //     of everything downstream). distinct (source, gram) is
    //     invariant to within-source text dedup, so semantics are
    //     untouched.
    //  2. gram explode of the COLLAPSED pairs, hash-partitioned by
    //     gram id BEFORE the (source, gram) DISTINCT:
    //     HashPartitioning(g) satisfies ClusteredDistribution(source,
    //     g), so the distinct runs in the post-exchange stage with
    //     vocab/partitions keys per task, and the gram-keyed
    //     novel-holder agg below reuses the same exchange.
    // The r16 spelling's map-side partial agg held the WHOLE
    // vocabulary per task and spilled 1.59 GB mem / 287 MB disk at
    // 300× (measured) — a working set ∝ corpus vocabulary. An
    // intermediate r17 experiment that ONLY repartitioned (no text
    // collapse) was measured WORSE on the dup corpus (23.4 s vs
    // 10.1 s at 300×: it shuffles the 78M raw pairs the partial agg
    // used to collapse); the collapse-first spelling keeps the
    // map-side cut where it is cheap (text level, input-bounded) and
    // the exchange small on dup and clean corpora alike.
    val g = docs(s, d)
      .select(coalesce(col("source"), lit("")).as("source"), col("text"))
      .distinct()
      .select(col("source"),
        explode(array_distinct(expr("graft_gram_ids(text, 2)"))).as("g"))
      .repartition(col("g"))
      .distinct()
      // pin (r17 opt): ng and nv below both consume g — one
      // materialization instead of two full lineage executions
      .pipe(graft.ops.Ckpt.pin)
    val ng = g.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val nv = g.groupBy("g").agg(min(col("source")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("novel_grams"))
    val j = docs(s, d)
      .select(coalesce(col("source"), lit("")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(ng, Seq("source"), "left")
      .join(nv, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy("source").rowsBetween(W.unboundedPreceding, 0)
    // ≤|sources| rows reach the window/total — the single-partition
    // WindowExec is over a handful of rows, not the corpus
    j.withColumn("_cum", sum(col("novel_grams")).over(w))
      .withColumn("_tot",
        sum(col("novel_grams")).over(
          W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
      .select(col("source"), col("n_docs"), col("n_grams"),
        col("novel_grams"),
        expr("(_cum * 1000) div _tot").as("cum_coverage_pm"))
      .orderBy("source")
  }

  /** Greedy selection rounds for [[sourceGreedy]] — bounded so the
    * driver-side loop (and the unrolled oracle) stay O(1). */
  /** PAIRWISE source-overlap matrix (r16) — the third leg of the
    * source-curation family: [[sourceNovelty]] values sources in a
    * fixed order, [[sourceGreedy]] selects them, and this answers the
    * diagnostic question both rest on — WHICH sources duplicate each
    * other, and in which direction. For every unordered source pair:
    * shared distinct hashed word bigrams (the same fused
    * [[graft.functions.GramIds]] 52-bit ids as the twins, NULL source
    * coalesced to ''), Jaccard, and BOTH containments — `cont_a` ≈ 1
    * flags src_a as (near-)subsumed by src_b, the actionable signal a
    * mirror/scrape pipeline drops sources on. Pair universe = sources
    * holding ≥ 1 bigram, in both engines. Integer set sizes under one
    * IEEE division each ⇒ exact cross-engine; ordering is total
    * (jaccard DESC, then the pair).
    *
    * Shape at 100 TB: the same ONE (source, gram) distinct exchange
    * as the twins; the shared-count self-join keys on the 8-byte gram
    * id — per gram the output is (holders choose 2) ≤ |S|²/2, settled
    * by a map-side-combining (src_a, src_b) agg, so the pair term is
    * vocab × avg-holders², never docs². The all-pairs completion join
    * runs on the ≤|S|-row counts frame (a broadcast nested loop over a
    * handful of rows — deliberate: the inequality condition on a tiny
    * dimension frame is not a data-sized cartesian). */
  val sourceOverlap: NamedQuery = NamedQuery(
    "docs_source_overlap",
    s"""WITH t AS (SELECT doc_id, COALESCE(source, '') AS source,
       |                  $tokHashListDuck AS t
       |           FROM documents),
       |bg0 AS (
       |  SELECT source,
       |         unnest(list_transform(range(1, len(t)),
       |           i -> ${gramFold(j => s"t[i + $j]", 2)})) AS g
       |  FROM t WHERE len(t) >= 2
       |),
       |bg AS (SELECT DISTINCT source, g FROM bg0),
       |ng AS (SELECT source, count(*) AS n FROM bg GROUP BY 1),
       |sh AS (
       |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS shared
       |  FROM bg x JOIN bg y ON x.g = y.g AND x.source < y.source
       |  GROUP BY 1, 2
       |),
       |p AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         a.n AS na, b.n AS nb,
       |         COALESCE(sh.shared, 0) AS shared_grams
       |  FROM ng a JOIN ng b ON a.source < b.source
       |  LEFT JOIN sh ON sh.src_a = a.source AND sh.src_b = b.source
       |)
       |SELECT src_a, src_b, shared_grams,
       |       CAST(shared_grams AS DOUBLE)
       |         / (na + nb - shared_grams) AS jaccard,
       |       CAST(shared_grams AS DOUBLE) / na AS cont_a,
       |       CAST(shared_grams AS DOUBLE) / nb AS cont_b
       |FROM p
       |ORDER BY jaccard DESC, src_a, src_b""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    // the r17 bounded-state shape ([[sourceNovelty]]'s inline comment
    // has the measured arithmetic): text-level collapse first, then
    // the gram-keyed exchange — which here additionally pre-positions
    // BOTH sides of the shared-gram self-join below, which joins on g
    val g = docs(s, d)
      .select(coalesce(col("source"), lit("")).as("source"), col("text"))
      .distinct()
      .select(col("source"),
        explode(array_distinct(expr("graft_gram_ids(text, 2)"))).as("g"))
      .repartition(col("g"))
      .distinct()
      // pin (r17 opt): ng + both sides of the shared-gram self-join
      // consume g — one materialization instead of three
      .pipe(graft.ops.Ckpt.pin)
    val ng = g.groupBy("source").agg(count(lit(1)).as("n"))
    val sh = g.as("x").join(g.as("y"),
        col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    // ng is ≤|sources| rows: the a<b completion join is a broadcast
    // nested loop over a dimension-sized frame, never the corpus
    val p = ng.as("a").join(ng.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .join(sh, Seq("src_a", "src_b"), "left")
      .withColumn("shared_grams", coalesce(col("shared"), lit(0L)))
    // every ng source holds ≥1 gram, so na/nb > 0 and the union
    // na + nb − shared ≥ max(na, nb) > 0 — no 0/0 branch needed
    p.select(col("src_a"), col("src_b"), col("shared_grams"),
        (col("shared_grams").cast("double")
          / (col("na") + col("nb") - col("shared_grams"))).as("jaccard"),
        (col("shared_grams").cast("double") / col("na")).as("cont_a"),
        (col("shared_grams").cast("double") / col("nb")).as("cont_b"))
      .orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
  }

  /** The heavy-holder cap for [[sourceOverlap]]'s pair term, as an
    * exact integer fraction: a gram held by MORE than
    * Num/Den · |sources| sources is "universal" (boilerplate, stop
    * phrases, license headers) and is excluded from the pair join.
    * 1/2 — a gram in over half the sources says nothing about which
    * PAIR duplicates which. Integer cross-multiplication
    * (`holders·Den > |S|·Num`) keeps the rule float-free in both
    * engines. */
  private val OverlapCapNum = 1
  private val OverlapCapDen = 2

  /** [[sourceOverlap]] with a DOCUMENT-FREQUENCY cap (r17, the r16
    * verdict's What's-wrong #2): the uncapped matrix's per-gram pair
    * term is holders·(holders−1)/2 join rows BEFORE the map-side
    * combine — bounded only by vocab × avg-holders², which hides the
    * max-holders tail. One universal stop-gram at production source
    * counts (|S| ~ 10⁴ per-domain sources) emits ~10⁸ rows alone, and
    * real corpora HAVE such grams (boilerplate headers, license
    * sentences). This spelling drops grams held by more than
    * [[OverlapCapNum]]/[[OverlapCapDen]] of the sources from the pair
    * join — the per-gram pair term is then bounded by (τ·|S|)² by
    * construction — and keeps the semantics honest by reporting the
    * excluded mass: `universal_grams` (the count of capped grams, the
    * same value on every row) says exactly how much overlap signal the
    * cap discarded. Set sizes (`na`/`nb`), shared counts, Jaccard and
    * both containments are all over the CAPPED gram sets, so the
    * numbers stay internally consistent (a pair's jaccard is the
    * jaccard of their non-universal vocabularies); a source holding
    * ONLY universal grams leaves the pair universe — its capped
    * vocabulary is empty, and 0/0 rows would diverge between engines.
    *
    * Shape at 100 TB: identical to the uncapped twin up to the ONE
    * gram-keyed exchange (bounded-state distinct, r17); the holders
    * count is a second consumer of that same exchange; the cap filter
    * is a broadcast of a 1-row source-count frame; the anti-join
    * removing universal grams keys on g and re-uses the gram
    * partitioning. Nothing new is corpus-sized, and the one term that
    * was quadratic in a DATA property (max holders) is now quadratic
    * only in the cap, a configured constant fraction. */
  val sourceOverlapCapped: NamedQuery = NamedQuery(
    "docs_source_overlap_capped",
    s"""WITH t AS (SELECT doc_id, COALESCE(source, '') AS source,
       |                  $tokHashListDuck AS t
       |           FROM documents),
       |bg0 AS (
       |  SELECT source,
       |         unnest(list_transform(range(1, len(t)),
       |           i -> ${gramFold(j => s"t[i + $j]", 2)})) AS g
       |  FROM t WHERE len(t) >= 2
       |),
       |bg AS (SELECT DISTINCT source, g FROM bg0),
       |ns AS (SELECT count(DISTINCT source) AS n_src FROM bg),
       |hold AS (SELECT g, count(*) AS h FROM bg GROUP BY 1),
       |uni AS (SELECT g FROM hold, ns
       |        WHERE h * $OverlapCapDen > n_src * $OverlapCapNum),
       |nu AS (SELECT count(*) AS universal_grams FROM uni),
       |kept AS (SELECT b.source, b.g FROM bg b
       |         WHERE NOT EXISTS (SELECT 1 FROM uni u WHERE u.g = b.g)),
       |ng AS (SELECT source, count(*) AS n FROM kept GROUP BY 1),
       |sh AS (
       |  SELECT x.source AS src_a, y.source AS src_b, count(*) AS shared
       |  FROM kept x JOIN kept y ON x.g = y.g AND x.source < y.source
       |  GROUP BY 1, 2
       |),
       |p AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         a.n AS na, b.n AS nb,
       |         COALESCE(sh.shared, 0) AS shared_grams
       |  FROM ng a JOIN ng b ON a.source < b.source
       |  LEFT JOIN sh ON sh.src_a = a.source AND sh.src_b = b.source
       |)
       |SELECT src_a, src_b, shared_grams,
       |       CAST(shared_grams AS DOUBLE)
       |         / (na + nb - shared_grams) AS jaccard,
       |       CAST(shared_grams AS DOUBLE) / na AS cont_a,
       |       CAST(shared_grams AS DOUBLE) / nb AS cont_b,
       |       (SELECT universal_grams FROM nu) AS universal_grams
       |FROM p
       |ORDER BY jaccard DESC, src_a, src_b""".stripMargin) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val g = docs(s, d)
      .select(coalesce(col("source"), lit("")).as("source"), col("text"))
      .distinct() // text-level collapse first (the [[sourceNovelty]] shape)
      .select(col("source"),
        explode(array_distinct(expr("graft_gram_ids(text, 2)"))).as("g"))
      .repartition(col("g"))
      .distinct()
      // pin (r17 opt): ns, the holders count, and the anti-join's left
      // side all consume g — the unpinned plan re-embedded the whole
      // scan → collapse → explode → distinct lineage per consumer
      // (a 1201-line physical plan with 8 parquet scans of one table)
      .pipe(graft.ops.Ckpt.pin)
    // 1-row source-count frame: the cap threshold travels by broadcast,
    // never a driver round-trip
    val ns = g.select("source").distinct()
      .agg(count(lit(1)).as("n_src"))
    val uni = g.groupBy("g").agg(count(lit(1)).as("h"))
      .crossJoin(broadcast(ns))
      .where(col("h") * OverlapCapDen > col("n_src") * OverlapCapNum)
      .select("g")
    val nu = uni.agg(count(lit(1)).as("universal_grams")) // 1 row
    val kept = g.join(uni, Seq("g"), "left_anti")
      // pin (r17 opt): ng + both self-join sides consume kept
      .pipe(graft.ops.Ckpt.pin)
    val ng = kept.groupBy("source").agg(count(lit(1)).as("n"))
    val sh = kept.as("x").join(kept.as("y"),
        col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    val p = ng.as("a").join(ng.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .join(sh, Seq("src_a", "src_b"), "left")
      .withColumn("shared_grams", coalesce(col("shared"), lit(0L)))
    p.crossJoin(broadcast(nu)) // 1-row universal-grams frame
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        (col("shared_grams").cast("double")
          / (col("na") + col("nb") - col("shared_grams"))).as("jaccard"),
        (col("shared_grams").cast("double") / col("na")).as("cont_a"),
        (col("shared_grams").cast("double") / col("nb")).as("cont_b"),
        col("universal_grams"))
      .orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
  }

  private val GreedyK = 5

  /** GREEDY max-coverage source selection (r16) — the curation
    * primitive [[sourceNovelty]] approximates with a FIXED
    * (lexicographic) order, done properly: iteratively pick the source
    * with the largest NOVEL vocabulary mass given everything already
    * selected (the classic greedy (1−1/e)-approximation to submodular
    * max-coverage). Vocabulary = the same hashed word-bigram ids
    * (fused [[graft.functions.GramIds]] 52-bit fold at n=2); NULL
    * source coalesces to '' like the fixed-order twin. At most
    * [[GreedyK]] rounds; a round emits only a POSITIVE marginal gain —
    * once every remaining (source, gram) pair is covered the frame is
    * empty and selection stops, in both engines. Ties break toward the
    * lexicographically smaller source. Output: one row per round —
    * round number, picked source, its marginal novel grams, and the
    * running coverage per-mille of the FULL vocabulary in exact
    * integer arithmetic.
    *
    * Shape at 100 TB: one corpus-wide (source, gram) DISTINCT of
    * 8-byte pairs, checkpointed and reused; each round is ONE map-side-
    * combining agg over the remaining pairs plus ONE anti-join on the
    * 8-byte gram key against the picked source's grams — k·2 bounded
    * passes, nothing pairwise, nothing driver-side except the 1-row
    * per-round argmax (the CC convergence-probe discipline). The
    * DuckDB twin is the same loop unrolled to k CTE steps. */
  val sourceGreedy: NamedQuery = NamedQuery(
    "docs_source_greedy", {
      val steps = (1 to GreedyK).map { i =>
        val pick =
          s"""p$i AS (SELECT source, count(*) AS nov FROM r$i
             |        GROUP BY 1 ORDER BY nov DESC, source LIMIT 1)"""
            .stripMargin
        val next =
          if (i == GreedyK) ""
          else
            s""",
               |r${i + 1} AS (
               |  SELECT b.source, b.g FROM r$i b
               |  WHERE b.source <> (SELECT source FROM p$i)
               |    AND NOT EXISTS (SELECT 1 FROM r$i c
               |                    WHERE c.source = (SELECT source FROM p$i)
               |                      AND c.g = b.g)
               |)""".stripMargin
        pick + next
      }.mkString(",\n")
      val sel = (1 to GreedyK)
        .map(i => s"SELECT CAST($i AS BIGINT) AS round, source, nov FROM p$i")
        .mkString("\n        UNION ALL ")
      s"""WITH t AS (SELECT doc_id, COALESCE(source, '') AS source,
         |                  $tokHashListDuck AS t
         |           FROM documents),
         |bg0 AS (
         |  SELECT source,
         |         unnest(list_transform(range(1, len(t)),
         |           i -> ${gramFold(j => s"t[i + $j]", 2)})) AS g
         |  FROM t WHERE len(t) >= 2
         |),
         |r1 AS (SELECT DISTINCT source, g FROM bg0),
         |$steps,
         |sel AS (
         |        $sel)
         |SELECT round, source, nov AS novel_grams,
         |       CAST(sum(nov) OVER (ORDER BY round) * 1000
         |            // (SELECT count(DISTINCT g) FROM r1) AS BIGINT)
         |         AS cum_coverage_pm
         |FROM sel
         |ORDER BY round""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    greedyRounds(s, d)._1
      .toDF("round", "source", "novel_grams", "cum_coverage_pm")
      .orderBy("round")
  }

  /** The [[sourceGreedy]] selection loop, returning the per-round picks
    * AND each round's wall seconds — the loop has one spelling; the
    * registered query consumes the picks; the per-round wall curve at
    * realistic source counts is recorded in COVERAGE.md's round-17
    * notes (task 7). */
  private[graft] def greedyRounds(s: SparkSession, d: String)
      : (Seq[(Long, String, Long, Long)], Seq[Double]) = {
    graft.functions.GraftFunctions.register(s)
    // the one corpus-sized piece, computed once and reused k times —
    // gram-partitioned before the distinct (the r17 bounded-state
    // shape, see [[sourceNovelty]]), which also lands the checkpointed
    // pair frame pre-clustered on the anti-join key the rounds use
    val base = docs(s, d)
      .select(coalesce(col("source"), lit("")).as("source"), col("text"))
      .distinct() // text-level collapse first (the [[sourceNovelty]] shape)
      .select(col("source"),
        explode(array_distinct(expr("graft_gram_ids(text, 2)"))).as("g"))
      .repartition(col("g"))
      .distinct()
      .pipe(graft.ops.Ckpt.pin)
    val total = base.agg(countDistinct(col("g"))).head().getLong(0)
    var remaining = base
    var cum = 0L
    val picks = scala.collection.mutable.ListBuffer.empty[(Long, String, Long, Long)]
    val walls = scala.collection.mutable.ListBuffer.empty[Double]
    var r = 1
    var done = total == 0L
    while (!done && r <= GreedyK) {
      val t0 = System.nanoTime()
      // per-round argmax: ONE row leaves the cluster
      val top = remaining.groupBy("source").agg(count(lit(1)).as("nov"))
        .orderBy(col("nov").desc, col("source")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val src = top(0).getString(0)
        val nov = top(0).getLong(1)
        cum += nov
        picks += ((r.toLong, src, nov, cum * 1000L / total))
        if (r < GreedyK) {
          val covered = remaining.where(col("source") === src).select("g")
          remaining = graft.ops.Ckpt.pin(
            remaining.where(col("source") =!= src)
              .join(covered, Seq("g"), "left_anti")) // truncate per-round lineage
        }
        walls += (System.nanoTime() - t0) / 1e9
        r += 1
      }
    }
    (picks.toSeq, walls.toSeq)
  }

  /** The full training-corpus build as ONE dataflow — the capstone the
    * individual operators exist for: exact dedup (keep smallest doc_id
    * per text hash) → quality gate (composite score ≥ 0.5, the shared
    * [[scoreDuck]]/[[scoreSpark]] formulation) → per-language stratified
    * sample (the [[SamplePct]] rates, salted hash) → deterministic
    * train/val/test assignment — reporting (lang, split) doc counts and
    * char volume. Every stage is a pure function of content/ids, so the
    * whole pipeline re-runs reproducibly on any engine; plan shape is a
    * window on the dedup hash (near-unique key) plus map-side stages and
    * one final low-cardinality aggregation. */
  val corpusBuild: NamedQuery = NamedQuery(
    "docs_corpus_build",
    s"""WITH dedup AS (
       |  SELECT lang, n_chars, text, doc_id FROM (
       |    SELECT lang, n_chars, text, doc_id,
       |           row_number() OVER (PARTITION BY md5(text)
       |                              ORDER BY doc_id) AS rn
       |    FROM documents)
       |  WHERE rn = 1
       |),
       |gated AS (
       |  SELECT lang, n_chars, doc_id FROM dedup
       |  WHERE $scoreDuck >= 0.5
       |),
       |sampled AS (
       |  SELECT lang, n_chars, doc_id FROM gated
       |  WHERE CAST('0x' || substr(md5('s-' || CAST(doc_id AS VARCHAR)), 1, 8)
       |             AS BIGINT) % 100 < ${pctCaseSql("lang")}
       |),
       |assigned AS (
       |  SELECT lang, n_chars,
       |         CASE WHEN b < 8 THEN 'train'
       |              WHEN b = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM (SELECT lang, n_chars, $splitBucketDuck AS b
       |        FROM sampled)
       |)
       |SELECT lang, split,
       |       count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM assigned
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val dedup = docs(s, d)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
    val gated = dedup.where(scoreSpark >= 0.5)
    val sampleH = expr(
      "cast(conv(substr(md5(concat('s-', cast(doc_id AS string))), 1, 8), 16, 10) AS bigint) % 100")
    val sampled = gated.where(sampleH <
      when(col("lang") === "en", SamplePct("en")).otherwise(SamplePct("other")))
    val b = expr(splitBucketSpark)
    sampled
      .select(col("lang"), col("n_chars"),
        when(b < 8, "train").when(b === 8, "val").otherwise("test")
          .as("split"))
      .groupBy("lang", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang", "split")
  }

  /** NEAR-DUP-AWARE corpus build (r16) — [[corpusBuild]] with the dedup
    * stage upgraded from exact-only to near-duplicate CLUSTER collapse,
    * and the split assignment keyed on the cluster label: the
    * end-to-end pipeline a real curation run uses, and the integration
    * proof that the registry's near-dup machinery composes — exact
    * dedup (min-id per text), near-dup components over the
    * ngram-Jaccard graph ([[componentLabDuck]] / [[repClusterLabels]],
    * the [[dupClusters]] structure), keep each cluster's MIN-ID
    * representative, quality gate, stratified sample, cluster-keyed
    * train/val/test. Because only the cluster minimum survives, and
    * the component label IS that minimum (the CC fixpoint invariant),
    * "keep where doc_id = cluster" is the whole collapse, and the
    * cluster-keyed split bucket coincides with the survivor's own —
    * leakage is structurally zero both because near-dups can't
    * straddle the boundary (one survivor) and because the key says so.
    *
    * Engine agreement is the interesting part: the oracle labels the
    * PER-DOC graph, Spark labels the COLLAPSED rep graph — they agree
    * on survivors because byte-identical texts share every bucket and
    * every edge, so a component's min doc is the min of its text
    * group (it would otherwise have a smaller same-text sibling in
    * the same component), i.e. always a rep, and rep-graph labels
    * restricted to reps equal per-doc labels ([[dupClusters]]'
    * expansion argument, run in reverse). NULL-text docs survive the
    * exact stage but score NULL at the gate in both engines.
    *
    * Shape at 100 TB: the component labeling the registry already
    * pays in [[dupClusters]] (collapsed rep graph, bounded edges),
    * plus one narrow rep→(lang, n_chars) hash join on an 8-byte key;
    * gate/sample/split are map-side; one low-cardinality final agg.
    * Nothing new is pairwise or corpus-wide. */
  val corpusBuildNearDup: NamedQuery = NamedQuery(
    "docs_corpus_build_neardup",
    s"""WITH RECURSIVE $gramCteDuck,
       |$componentLabDuck,
       |dedup AS (
       |  SELECT lang, n_chars, text, doc_id FROM (
       |    SELECT lang, n_chars, text, doc_id,
       |           row_number() OVER (PARTITION BY md5(text)
       |                              ORDER BY doc_id) AS rn
       |    FROM documents)
       |  WHERE rn = 1
       |),
       |reps AS (
       |  SELECT d.lang, d.n_chars, d.text, d.doc_id,
       |         COALESCE(l.cluster, d.doc_id) AS cluster
       |  FROM dedup d LEFT JOIN lab l ON l.id = d.doc_id
       |  WHERE d.doc_id = COALESCE(l.cluster, d.doc_id)
       |),
       |gated AS (
       |  SELECT lang, n_chars, doc_id, cluster FROM reps
       |  WHERE $scoreDuck >= 0.5
       |),
       |sampled AS (
       |  SELECT lang, n_chars, cluster FROM gated
       |  WHERE CAST('0x' || substr(md5('s-' || CAST(doc_id AS VARCHAR)), 1, 8)
       |             AS BIGINT) % 100 < ${pctCaseSql("lang")}
       |),
       |assigned AS (
       |  SELECT lang, n_chars,
       |         CASE WHEN b < 8 THEN 'train'
       |              WHEN b = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM (SELECT lang, n_chars, ${bucketDuckOf("cluster")} AS b
       |        FROM sampled)
       |)
       |SELECT lang, split,
       |       count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM assigned
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    // exact-dedup survivors ARE textGroups' reps (min id per distinct
    // text); NULL-text docs are dropped here AND at the oracle's gate
    // (their score is NULL), so the engines agree on the output
    val tg = textGroups(dd)
    val g = gramProfilesOf(tg.select(col("rep").as("doc_id"), col("text")))
    val labels = repClusterLabels(g)
    val kept = tg.select(col("rep"), col("text"))
      .join(labels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .where(col("rep") === coalesce(col("label"), col("rep")))
      .select(col("rep").as("doc_id"), col("text"),
        coalesce(col("label"), col("rep")).as("cluster"))
    // recover lang/n_chars for the gate: narrow 8-byte-key hash join
    val enriched = kept
      .join(dd.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
    val gated = enriched.where(scoreSpark >= 0.5)
    val sampleH = expr(
      "cast(conv(substr(md5(concat('s-', cast(doc_id AS string))), 1, 8), 16, 10) AS bigint) % 100")
    val sampled = gated.where(sampleH <
      when(col("lang") === "en", SamplePct("en")).otherwise(SamplePct("other")))
    val b = expr(bucketSparkOf("cluster"))
    sampled
      .select(col("lang"), col("n_chars"),
        when(b < 8, "train").when(b === 8, "val").otherwise("test")
          .as("split"))
      .groupBy("lang", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang", "split")
  }

  /** QUALITY-AWARE rep selection (r16) — [[corpusBuildNearDup]] with the
    * keep-criterion production curation actually uses: instead of each
    * near-dup cluster's MIN-ID member, keep its BEST-QUALITY member
    * (the shared [[scoreDuck]]/[[scoreSpark]] composite, ties broken by
    * doc_id), THEN gate. The order is equivalent to gating first and
    * keeping the best survivor — the gate is a threshold on the same
    * score the argmax maximizes, so the best member passes iff any
    * member does — but keeps the dataflow one window pass. The split
    * stays keyed on the CLUSTER label (never the surviving doc's id),
    * so survivor choice can never move a cluster across the
    * train/val/test boundary. `id_sum` pins survivor IDENTITY per
    * stratum: keep-best vs keep-min twins can coincide on counts while
    * choosing different docs, and the checksum is what the oracle
    * hash-gates.
    *
    * Engine agreement rides [[corpusBuildNearDup]]'s rep-graph =
    * per-doc-graph argument unchanged, plus one new observation: both
    * engines rank the SAME candidate set (exact-dedup survivors — a
    * non-rep member is byte-identical to its rep, so restricting to
    * reps never removes a distinct score) by doubles computed through
    * the pinned shared formulation, so `DESC NULLS LAST, doc_id` is
    * the same total order on both sides. NULL-text docs score NULL,
    * rank last, and die at the gate in both engines.
    *
    * Shape at 100 TB: identical to [[corpusBuildNearDup]] plus one
    * window over the cluster key — a hash shuffle on an 8-byte
    * near-unique key with per-group sort bounded by cluster size
    * (bucket-bounded by construction), then map-side stages and one
    * low-cardinality agg. */
  val corpusBuildKeepBest: NamedQuery = NamedQuery(
    "docs_corpus_build_keepbest",
    s"""WITH RECURSIVE $gramCteDuck,
       |$componentLabDuck,
       |dedup AS (
       |  SELECT lang, n_chars, text, doc_id FROM (
       |    SELECT lang, n_chars, text, doc_id,
       |           row_number() OVER (PARTITION BY md5(text)
       |                              ORDER BY doc_id) AS rn
       |    FROM documents)
       |  WHERE rn = 1
       |),
       |reps AS (
       |  SELECT d.lang, d.n_chars, d.doc_id,
       |         COALESCE(l.cluster, d.doc_id) AS cluster,
       |         $scoreDuck AS score
       |  FROM dedup d LEFT JOIN lab l ON l.id = d.doc_id
       |),
       |kept AS (
       |  SELECT lang, n_chars, doc_id, cluster, score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cluster
       |               ORDER BY score DESC NULLS LAST, doc_id) AS krn
       |    FROM reps)
       |  WHERE krn = 1
       |),
       |gated AS (
       |  SELECT lang, n_chars, doc_id, cluster FROM kept
       |  WHERE score >= 0.5
       |),
       |sampled AS (
       |  SELECT lang, n_chars, doc_id, cluster FROM gated
       |  WHERE CAST('0x' || substr(md5('s-' || CAST(doc_id AS VARCHAR)), 1, 8)
       |             AS BIGINT) % 100 < ${pctCaseSql("lang")}
       |),
       |assigned AS (
       |  SELECT lang, n_chars, doc_id,
       |         CASE WHEN b < 8 THEN 'train'
       |              WHEN b = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM (SELECT lang, n_chars, doc_id, ${bucketDuckOf("cluster")} AS b
       |        FROM sampled)
       |)
       |SELECT lang, split,
       |       count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM assigned
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val dd = docs(s, d)
    // exact-dedup survivors ARE textGroups' reps; NULL-text docs are
    // dropped at tg on the Spark side and at the gate (NULL score) on
    // the oracle side — same survivors either way
    val tg = textGroups(dd)
    val g = gramProfilesOf(tg.select(col("rep").as("doc_id"), col("text")))
    val labels = repClusterLabels(g)
    val reps = tg.select(col("rep"), col("text"))
      .join(labels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("rep").as("doc_id"), col("text"),
        coalesce(col("label"), col("rep")).as("cluster"))
      // narrow 8-byte-key hash join to recover the scoring columns
      .join(dd.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
      .withColumn("score", scoreSpark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("score").desc_nulls_last, col("doc_id"))
    val kept = reps.withColumn("krn", row_number().over(w))
      .where(col("krn") === 1)
    val gated = kept.where(col("score") >= 0.5)
    val sampleH = expr(
      "cast(conv(substr(md5(concat('s-', cast(doc_id AS string))), 1, 8), 16, 10) AS bigint) % 100")
    val sampled = gated.where(sampleH <
      when(col("lang") === "en", SamplePct("en")).otherwise(SamplePct("other")))
    val b = expr(bucketSparkOf("cluster"))
    sampled
      .select(col("lang"), col("n_chars"), col("doc_id"),
        when(b < 8, "train").when(b === 8, "val").otherwise("test")
          .as("split"))
      .groupBy("lang", "split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy("lang", "split")
  }

  /** ASYMMETRIC containment |A∩B| / |A| — the near-dup metric Jaccard
    * misses: a short document wholly embedded in a long one scores low
    * Jaccard (the union is dominated by the long side) but containment
    * ≈ 1 in the short→long direction, which is exactly the
    * sub-document-duplication case corpus dedup cares about. Same shared
    * candidate front end as [[ngramJaccard]] ([[gramCteDuck]] /
    * [[gramProfilesOf]] — bucket-local, never all-pairs); both directions
    * plus the max are emitted, ranked by the max. Exact cross-engine:
    * integer set sizes under one IEEE division. */
  val containment: NamedQuery = NamedQuery(
    "docs_containment",
    s"""WITH $gramCteDuck,
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM g a
       |  JOIN g b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b,
       |       CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
       |         / len(x.grams) AS cont_a,
       |       CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
       |         / len(y.grams) AS cont_b,
       |       greatest(
       |         CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
       |           / len(x.grams),
       |         CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
       |           / len(y.grams)) AS cont_max
       |FROM cand
       |JOIN g x ON x.doc_id = doc_a
       |JOIN g y ON y.doc_id = doc_b
       |ORDER BY cont_max DESC, doc_a, doc_b
       |LIMIT 20""".stripMargin) { (s, d) =>
    // TEXT-GROUP COLLAPSE, the [[ngramJaccard]] rewrite with one
    // asymmetry to respect: cont_a divides by DOC_A's gram count, and
    // doc_a = least(x, y) can come from EITHER group — so the rep
    // pair carries both ratios and the expansion lambda assigns them
    // per pair by which side holds the smaller id. The ranking key
    // cont_max is symmetric (constant per rep pair), so the 21-id /
    // top-20 counting bounds apply unchanged.
    val tg = textGroups(docs(s, d))
    val g = gramProfilesOf(tg.select(col("rep").as("doc_id"), col("text")))
    val within =
      withinGroupPairs(tg, g.select(col("doc_id").as("rep")))
        .withColumn("cont_a", lit(1.0))
        .withColumn("cont_b", lit(1.0))
        .withColumn("cont_max", lit(1.0))
    def inter = size(array_intersect(col("x.grams"), col("y.grams")))
      .cast("double")
    val repPairs = inBucketPairs(g)
      .join(g.as("x"), col("x.doc_id") === col("doc_a"))
      .join(g.as("y"), col("y.doc_id") === col("doc_b"))
      .select(col("doc_a").as("ra"), col("doc_b").as("rb"),
        (inter / size(col("x.grams"))).as("ca"),
        (inter / size(col("y.grams"))).as("cb"),
        greatest(inter / size(col("x.grams")),
          inter / size(col("y.grams"))).as("cmax"))
    val cross = repPairs
      .join(tg.select(col("rep").as("ra"), col("ids").as("xs")), "ra")
      .join(tg.select(col("rep").as("rb"), col("ids").as("ys")), "rb")
      .select(col("cmax"), explode(expr(
        """slice(array_sort(flatten(transform(xs, x ->
          |  transform(ys, y ->
          |    struct(least(x, y) AS a, greatest(x, y) AS b,
          |           if(x < y, ca, cb) AS cont_a,
          |           if(x < y, cb, ca) AS cont_b))))), 1, 20)"""
          .stripMargin.replace("\n", " "))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
        col("p.cont_a").as("cont_a"), col("p.cont_b").as("cont_b"),
        col("cmax").as("cont_max"))
    within.unionByName(cross)
      .orderBy(col("cont_max").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** ClickHouse `groupUniqArray` parity: the DISTINCT-set aggregate
    * (`collect_set`), canonicalized by `sort_array` so the set has one
    * deterministic rendering (set aggregation order is engine-arbitrary),
    * serialized through the same array_to_string convention as
    * [[fingerprint]]. Map-side partial collect keeps the shuffle at
    * O(distinct values) per group — safe only for BOUNDED value domains
    * like `source` here (an unbounded-domain collect_set is the
    * anti-pattern; that shape belongs to count-distinct sketches). */
  val langSources: NamedQuery = NamedQuery(
    "docs_lang_sources",
    """SELECT lang,
      |       count(*) AS n_docs,
      |       count(DISTINCT source) AS n_sources,
      |       array_to_string(list_sort(list(DISTINCT source)), ',')
      |         AS sources
      |FROM documents
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    docs(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        array_join(sort_array(collect_set(col("source"))), ",")
          .as("sources"))
      .orderBy("lang")
  }

  /** Sensitive-term scrubbing — the redaction pass a training-data
    * pipeline runs before release (PII patterns, banned terms): count
    * matches (`regexp_extract_all`, full-match), measure the redacted
    * rewrite (`regexp_replace`, replace-ALL in both engines — DuckDB
    * needs the explicit 'g'), report per-lang hit rates and char deltas.
    * The term list compiles into ONE scan-side regex — per-row work is
    * O(len·terms) with zero joins, embarrassingly parallel at any scale;
    * word boundaries (`\b`) behave identically in Java regex and RE2.
    * (The synthetic corpus has no digit/email-shaped PII — the
    * dictionary variant exercises the identical plumbing on terms that
    * actually occur.) */
  val redaction: NamedQuery = {
    val pat = "\\b(customer|supplier)\\b"
    val mark = "[X]"
    NamedQuery(
      "docs_redaction",
      s"""WITH r AS (
         |  SELECT lang,
         |         len(regexp_extract_all(text, '$pat')) AS hits,
         |         len(text) AS len_before,
         |         len(regexp_replace(text, '$pat', '$mark', 'g'))
         |           AS len_after
         |  FROM documents
         |)
         |SELECT lang,
         |       count(*) AS n_docs,
         |       CAST(count(*) FILTER (WHERE hits > 0) AS BIGINT)
         |         AS docs_hit,
         |       CAST(sum(hits) AS BIGINT) AS n_redactions,
         |       CAST(sum(len_before - len_after) AS BIGINT)
         |         AS chars_removed
         |FROM r
         |GROUP BY 1
         |ORDER BY 1""".stripMargin) { (s, d) =>
      docs(s, d)
        .select(col("lang"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .as("hits"),
          length(col("text")).as("len_before"),
          length(regexp_replace(col("text"), pat, mark)).as("len_after"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          count(when(col("hits") > 0, 1)).as("docs_hit"),
          sum(col("hits")).cast("long").as("n_redactions"),
          sum(col("len_before") - col("len_after")).cast("long")
            .as("chars_removed"))
        .orderBy("lang")
    }
  }

  /** Context-window capacity (tokens) for [[packSequences]] — chosen so
    * a bin holds ~4-5 synthetic docs (10-100 tokens each). A doc longer
    * than the capacity is truncated to it (the training-pipeline
    * convention) so packing always terminates with every doc placed. */
  private[queries] val PackCapacity = 256

  /** Per-document bin assignment for [[packSequences]] — greedy next-fit
    * in doc_id order within each lang shard: keep filling the current
    * bin until the next doc would overflow, then open a new one. The
    * recurrence is inherently sequential (each bin boundary depends on
    * every earlier fill), so no window/prefix-sum spelling exists; the
    * scalable shape is SHARD-LOCAL sequential packing: repartition by
    * shard, secondary-sort by doc_id, one O(1)-state streaming pass per
    * shard (`mapPartitions` is the right tool here, same as
    * multimodal/Media.scala — this is genuine per-partition imperative
    * logic, not an expression). Bins never cross shards, so shards pack
    * in parallel; at 100 TB the shard key becomes (lang,
    * hash(doc_id) % k) to widen parallelism, at the cost of ≤ one
    * partially-filled bin per extra shard. Exposed to PackSpec, which
    * property-checks capacity, exactly-once placement, bin contiguity,
    * and greedy tightness. */
  private[graft] def packAssignments(
      s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cap = PackCapacity.toLong
    docs(s, d)
      .select(col("lang"), col("doc_id"),
        least(expr(s"size($tokSpark)").cast("long"), lit(cap)).as("t"))
      .repartition(col("lang"))
      .sortWithinPartitions("lang", "doc_id")
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        var curLang: String = null
        var fill = 0L
        var bin = -1L
        it.map { case (lang, id, t) =>
          if (lang != curLang) { curLang = lang; fill = 0L; bin = -1L }
          if (bin < 0L || fill + t > cap) { bin += 1; fill = t }
          else fill += t
          (lang, id, t, bin)
        }
      }
      .toDF("lang", "doc_id", "t", "bin")
  }

  /** Greedy sequence packing — the training-data batching operator:
    * tokenized docs are packed into fixed-capacity context bins
    * (next-fit by doc_id, shard = lang), reported per bin. The DuckDB
    * twin spells the SAME sequential recurrence as a recursive CTE
    * stepping one doc per lang per iteration — an independent
    * derivation of identical bin boundaries. Bin utilisation
    * (bin_tokens vs capacity) is the packing-efficiency readout. */
  val packSequences: NamedQuery = NamedQuery(
    "docs_pack_sequences",
    s"""WITH RECURSIVE toks AS (
       |  SELECT lang, doc_id,
       |         least(len($tokDuck), $PackCapacity) AS t,
       |         row_number() OVER (PARTITION BY lang ORDER BY doc_id)
       |           AS rn
       |  FROM documents
       |),
       |pack AS (
       |  SELECT lang, doc_id, t, rn, t AS fill, CAST(0 AS BIGINT) AS bin
       |  FROM toks WHERE rn = 1
       |  UNION ALL
       |  SELECT s.lang, s.doc_id, s.t, s.rn,
       |         CASE WHEN p.fill + s.t > $PackCapacity
       |              THEN s.t ELSE p.fill + s.t END,
       |         CASE WHEN p.fill + s.t > $PackCapacity
       |              THEN p.bin + 1 ELSE p.bin END
       |  FROM toks s JOIN pack p ON s.lang = p.lang AND s.rn = p.rn + 1
       |)
       |SELECT lang, bin,
       |       count(*) AS n_docs,
       |       CAST(sum(t) AS BIGINT) AS bin_tokens,
       |       min(doc_id) AS first_doc,
       |       max(doc_id) AS last_doc
       |FROM pack
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    packAssignments(s, d)
      .groupBy("lang", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("t")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "bin")
  }

  /** Word-bigram list from an in-scope token-array column `t`, for
    * lineages that already tokenized ([[repetition]]/[[filterFunnel]]
    * via [[foldBigramStats]], [[bigramLm]]); [[lmSurprise]] uses the
    * hashed-bigram fold instead. */
  private def bigramsFromTokens: org.apache.spark.sql.Column = expr(
    """CASE WHEN size(t) < 2 THEN array()
      |ELSE transform(sequence(1, size(t) - 1),
      |  i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) END"""
      .stripMargin.replace("\n", " "))

  /** Fold per-doc bigram stats `(top_c, n_bi)` into a frame of
    * `(doc_id, carry…, t)` in ONE lineage — [[repetition]]'s stage-2
    * aggregation, shared with [[filterFunnel]] so the funnel's
    * repetition gate inverts exactly the flags [[repetition]] reports.
    * Replaces the former scan-twice shape (a separate `bigramStats`
    * frame joined back on doc_id — two parquet scans + two tokenizer
    * passes + a join exchange): `explode_outer` keeps every doc exactly
    * once (a <2-token doc contributes one null-bigram row, which the
    * conditional aggregates turn into the NULL top_c/n_bi the former
    * LEFT JOIN produced), and the carried per-doc scalars ride the two
    * near-unique-key aggs as `max` — constant per doc, so values are
    * unchanged. Duck twin [[bigramStatsDuck]] expects a CTE
    * `t(doc_id, …, t)` in scope (embed-only, margins intact — the
    * [[minhashChainDuck]] contract); it was always single-scan. */
  private def foldBigramStats(perDoc: DataFrame,
                              carry: Seq[String]): DataFrame = {
    val ex = perDoc.select(
      (col("doc_id") +: carry.map(col)) :+
        explode_outer(bigramsFromTokens).as("bg"): _*)
    ex.groupBy("doc_id", "bg")
      .agg(max(col(carry.head)).as(carry.head),
        (carry.tail.map(c => max(col(c)).as(c)) :+
          count(lit(1)).as("c")): _*)
      .groupBy("doc_id")
      .agg(max(col(carry.head)).as(carry.head),
        (carry.tail.map(c => max(col(c)).as(c)) ++ Seq(
          max(when(col("bg").isNotNull, col("c"))).as("top_c"),
          sum(when(col("bg").isNotNull, col("c"))).as("n_bi"))): _*)
  }

  private val bigramStatsDuck: String =
    """bg AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(t)),
      |           i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM t
      |),
      |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
      |tb AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_bi
      |       FROM bc GROUP BY 1)"""

  /** Repetition-quality signals (the Gopher/MassiveText filter family,
    * token-level because this corpus has no line structure): per-doc
    * duplicate-token fraction and top-bigram occupancy, rolled up per
    * lang. All cross-row arithmetic is exact-integer (fractions are ONE
    * division of two BIGINT sums; flags are integer inequalities
    * `5·top_c ≥ n_bi` — Gopher's 0.20 top-2-gram occupancy threshold —
    * and `2·n_uniq ≤ n_tok`, never a float threshold),
    * so both engines agree bit-for-bit. Shape at 100 TB: per-doc work is
    * map-side; the only shuffle keys on (doc_id, bigram) — near-unique,
    * skew-free — then collapses to one low-cardinality lang rollup. */
  val repetition: NamedQuery = NamedQuery(
    "docs_repetition",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $tokDuck AS t FROM documents
       |),
       |base AS (
       |  SELECT doc_id, lang,
       |         CAST(len(t) AS BIGINT) AS n_tok,
       |         CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq
       |  FROM t
       |),
       |$bigramStatsDuck
       |SELECT lang,
       |       count(*) AS n_docs,
       |       CAST(sum(n_tok) - sum(n_uniq) AS DOUBLE)
       |         / CAST(sum(n_tok) AS DOUBLE) AS dup_tok_frac,
       |       CAST(sum(top_c) AS DOUBLE)
       |         / CAST(sum(n_bi) AS DOUBLE) AS top_bigram_frac,
       |       CAST(count(*) FILTER (WHERE 5 * top_c >= n_bi) AS BIGINT)
       |         AS n_rep_flagged,
       |       CAST(count(*) FILTER (WHERE 2 * n_uniq <= n_tok) AS BIGINT)
       |         AS n_dupword_flagged
       |FROM base LEFT JOIN tb USING (doc_id)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    val toks = docs(s, d)
      .select(col("doc_id"), col("lang"), expr(tokSpark).as("t"))
    val perDoc = toks.select(col("doc_id"), col("lang"),
      size(col("t")).cast("long").as("n_tok"),
      size(array_distinct(col("t"))).cast("long").as("n_uniq"),
      col("t"))
    foldBigramStats(perDoc, Seq("lang", "n_tok", "n_uniq"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        ((sum(col("n_tok")) - sum(col("n_uniq"))).cast("double") /
          sum(col("n_tok")).cast("double")).as("dup_tok_frac"),
        (sum(col("top_c")).cast("double") /
          sum(col("n_bi")).cast("double")).as("top_bigram_frac"),
        count(when(col("top_c") * 5 >= col("n_bi"), 1))
          .as("n_rep_flagged"),
        count(when(col("n_uniq") * 2 <= col("n_tok"), 1))
          .as("n_dupword_flagged"))
      .orderBy("lang")
  }

  /** Decontamination n-gram length — 13 word-grams, the GPT-3 eval
    * decontamination convention; docs shorter than 13 tokens carry no
    * grams and therefore cannot register as contaminated. */
  private[queries] val ContamN = 13

  /** The word-13-gram list as 52-bit BIGINT ids — ONE spelling per
    * engine, shared by [[contamination]] and [[spanDedup]] so both
    * queries operate in the same gram space by construction. Each
    * TOKEN is md5-hashed once to a 52-bit prefix, and a gram id is the
    * polynomial fold of its 13 token hashes, `acc = (acc·1031 + h) mod
    * 2⁵²` — same 52-bit birthday bound as the former
    * md5-of-joined-window spelling, but the md5 input shrinks ~13×
    * (one short token per hash instead of a ~70-byte window that
    * re-hashes every token 13 times) and the per-gram string build
    * disappears; the fold itself is 12 multiply-add-mods on longs,
    * overflow-free (2⁵²·1031 + 2⁵² < 2⁶³) so both engines compute it
    * exactly. Measured at 100×: `docs_contamination_bloom` 54.0 →
    * 15.8 s, `docs_span_dedup` 25.5 → 7.1 s (with the per-doc
    * array_distinct those queries adopted alongside). Duck side: an
    * expression over a token-HASH-array column `t` (build it with
    * [[tokHashListDuck]]). Spark side: the tokenizer and the hash
    * array are bound inside the lambda barrier itself (the
    * CollapseProject hazard documented at [[contamination]] — `hs` is
    * referenced $ContamN× per gram, so as a projected alias the whole
    * per-token hash pass would re-inline per reference). */
  private def gramFold(at: Int => String, n: Int = ContamN): String =
    (1 until n).foldLeft(at(0)) { (acc, j) =>
      s"(($acc * 1031 + ${at(j)}) % ${1L << 52})"
    }

  /** Token list → 52-bit md5-prefix hash list (DuckDB). A `def`: it is
    * referenced from `val` query registrations textually ABOVE this
    * definition ([[lmSurprise]]), where a forward `val` reference would
    * read null at object init. */
  private def tokHashListDuck: String =
    s"""list_transform($tokDuck,
       |           x -> CAST('0x' || substr(md5(x), 1, 13) AS BIGINT))"""
      .stripMargin.replace("\n", " ")

  private val gramListDuck: String =
    s"""CASE WHEN len(t) < $ContamN THEN []
       |              ELSE list_transform(
       |                range(1, len(t) - ${ContamN - 2}),
       |                i -> ${gramFold(j => s"t[i + $j]")})
       |         END"""

  /** Spark side of [[gramListDuck]] — since r14 the fused codegen'd
    * [[graft.functions.GramIds]] expression (one byte pass: tokenize,
    * per-token MD5 digest straight to its 52-bit prefix, rolling
    * window fold), replacing the composed nested-`transform` spelling.
    * The composed form paid, per token, an md5 HEX STRING + `substr` +
    * `conv` base-16 parse, and its window fold ran inside
    * higher-order functions — CodegenFallback, so the whole gram
    * subtree evaluated interpreted (this is also what made the
    * CollapseProject lambda-barrier workaround documented at
    * [[contamination]] necessary; a single leaf expression has
    * nothing to inline). GramIdsSpec pins fused ≡ composed on the
    * tokenizer edge grammar + a seeded random sweep; callers must
    * register the function surface first. Measured A/B in the
    * round-14 notes. */
  private def gramsCol: org.apache.spark.sql.Column =
    expr(s"graft_gram_ids(text, $ContamN)")

  /** [[spanDedup]]'s per-doc-distinct (doc_id, gram) explode — the
    * (doc_id, gram) distinct is PER-DOCUMENT (doc_id is in the key),
    * so `array_distinct` on the gram list settles it map-side; the
    * global `.distinct()` spelling shuffled the entire exploded gram
    * stream just to remove duplicates that all live inside one row's
    * explode. Exposed `private[graft]` for GramFoldSpec's fold-vs-
    * string-window injectivity pin. */
  private[graft] def spanDedupGramsFor(docsDf: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docsDf.sparkSession)
    docsDf.select(col("doc_id"), explode(array_distinct(gramsCol)).as("gram"))
  }

  /** Train/test contamination check — the eval-integrity operator every
    * training pipeline runs before holding out a test split: a test doc
    * is contaminated when it shares at least one word-13-gram with any
    * train doc. The split is [[trainSplit]]'s deterministic md5 bucket
    * assignment (b < 8 train, b = 9 test), so membership is a pure
    * function of doc_id in both engines. Grams travel as 52-bit ids
    * (per-token md5 folded polynomially — see [[gramListDuck]]), not
    * strings: the distinct/semi-join shuffle then moves 8-byte longs
    * instead of ~70-byte texts (measured 3× on this query's wall), at
    * the standard negligible-collision trade both engines compute
    * identically. Shape at 100 TB: gram sets are per-doc
    * distinct (map-side), the contamination probe is ONE semi-join
    * keyed on (lang, gram) — near-unique key, no skew, both sides
    * prunable to (lang, gram[, doc_id]) columns — then everything
    * collapses to a per-lang rollup joined on a broadcastable lang dim. */
  /** The decontamination oracle — ONE spelling shared by
    * [[contamination]] and [[contaminationBloom]]: the Bloom variant is
    * a pure execution-strategy change (pre-prune before the exact
    * join), so the two must hash-match the same SQL or the filter has
    * eaten a true positive. */
  private def contaminationSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, $tokHashListDuck AS t,
       |         $splitBucketDuck AS b
       |  FROM documents
       |),
       |g AS (
       |  SELECT doc_id, lang, b,
       |         $gramListDuck AS gs
       |  FROM t
       |),
       |tr AS (SELECT DISTINCT lang, unnest(gs) AS gram FROM g WHERE b < 8),
       |te AS (SELECT DISTINCT lang, doc_id, unnest(gs) AS gram
       |       FROM g WHERE b = 9),
       |hit AS (
       |  SELECT te.lang, te.doc_id, te.gram
       |  FROM te JOIN tr ON te.lang = tr.lang AND te.gram = tr.gram
       |),
       |td AS (SELECT lang, count(*) AS n_test FROM g WHERE b = 9 GROUP BY 1),
       |tg AS (SELECT lang, count(DISTINCT gram) AS n_test_grams
       |       FROM te GROUP BY 1),
       |hg AS (SELECT lang,
       |              count(DISTINCT doc_id) AS n_contam,
       |              count(DISTINCT gram) AS n_hit_grams
       |       FROM hit GROUP BY 1)
       |SELECT td.lang, n_test,
       |       COALESCE(n_contam, 0) AS n_contam,
       |       CAST(COALESCE(n_contam, 0) AS DOUBLE)
       |         / CAST(n_test AS DOUBLE) AS contam_rate,
       |       COALESCE(n_test_grams, 0) AS n_test_grams,
       |       COALESCE(n_hit_grams, 0) AS n_hit_grams
       |FROM td
       |LEFT JOIN tg ON td.lang = tg.lang
       |LEFT JOIN hg ON td.lang = hg.lang
       |ORDER BY td.lang""".stripMargin

  /** Shared per-lang contamination rollup: everything downstream of the
    * (test-gram ⋉ train-gram) probe — the only piece the exact and
    * Bloom-pruned variants spell differently. */
  private def contaminationReport(split: DataFrame, testGrams: DataFrame,
                                  hits: DataFrame): DataFrame = {
    val td = split.where(col("b") === 9)
      .groupBy("lang").agg(count(lit(1)).as("n_test"))
    val tg = testGrams.groupBy("lang")
      .agg(countDistinct(col("gram")).as("n_test_grams"))
    val hg = hits.groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_contam"),
        countDistinct(col("gram")).as("n_hit_grams"))
    td.join(tg, Seq("lang"), "left")
      .join(hg, Seq("lang"), "left")
      .select(col("lang"), col("n_test"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        (coalesce(col("n_contam"), lit(0L)).cast("double") /
          col("n_test").cast("double")).as("contam_rate"),
        coalesce(col("n_test_grams"), lit(0L)).as("n_test_grams"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"))
      .orderBy("lang")
  }

  val contamination: NamedQuery = NamedQuery(
    "docs_contamination", contaminationSql) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val b = expr(splitBucketSpark)
    // trainGrams keeps the global DISTINCT: its (lang, gram) key dedups
    // ACROSS documents, which no per-doc pass can settle; the partial
    // aggregate already dedups map-side before the exchange.
    // Historical note: the composed gram spelling needed the token
    // array bound as a LAMBDA variable to stop CollapseProject from
    // re-inlining it into the per-gram lambda (measured:
    // `split(trim(text))` appeared 7× in the optimized plan,
    // re-tokenizing once PER GRAM — 4 s of the query's 6 s wall). The
    // r14 fused graft_gram_ids leaf has no lambda to inline into;
    // PlanSpec still pins the no-re-tokenize property.
    val grams = gramsCol
    val split = docs(s, d)
      .select(col("doc_id"), col("lang"), b.as("b"), grams.as("gs"))
    val trainGrams = split.where(col("b") < 8)
      .select(col("lang"), explode(col("gs")).as("gram")).distinct()
    // (lang, doc_id, gram) distinct is per-document — doc_id is in the
    // key and lang is functionally dependent on it — so array_distinct
    // settles it map-side with no exchange (the .distinct() spelling
    // shuffled rows that were already unique after the map-side partial).
    val testGrams = split.where(col("b") === 9)
      .select(col("lang"), col("doc_id"),
        explode(array_distinct(col("gs"))).as("gram"))
    // SHUFFLE_HASH, not broadcast: the train-gram set is the BIG side
    // (most of the corpus) — local stats undershoot the broadcast
    // threshold here, but a single-threaded multi-million-entry
    // broadcast build is both this query's wall-time bottleneck and a
    // driver OOM at any real scale; the partitioned hash semi-join is
    // the shape that survives 100 TB
    val hits = testGrams.join(
      trainGrams.hint("shuffle_hash"), Seq("lang", "gram"), "left_semi")
    contaminationReport(split, testGrams, hits)
  }

  /** [[contamination]] with the corpus-sized exchange REMOVED — the
    * 100 TB execution strategy. The exact variant shuffles every
    * distinct train gram (most of the corpus) into the semi-join;
    * here the SMALL side (the test/eval split — in production a fixed,
    * driver-known benchmark suite) is folded into a Bloom filter by
    * [[graft.functions.BloomAggregate]] (distributed build, OR-merged
    * partials), broadcast as one row, and the train side is pre-pruned
    * MAP-SIDE by the codegen'd [[graft.functions.BloomMightContain]]
    * probe before anything moves. What survives — true hits plus
    * fpp·|train| false positives — is distinct-ed (a survivor-sized
    * exchange, not a corpus-sized one) and exact-semi-joined back, so
    * false positives are eliminated and the result is bit-identical to
    * the exact twin: same oracle SQL, same hash.
    *
    * Sizing without touching the corpus: the key count is bounded by
    * the eval split's token count, itself ≤ (n_chars+1)/2 for a
    * whitespace tokenizer — one COLUMNAR job over the small split's
    * (doc_id, n_chars) only (no tokenize). Oversizing only lowers the
    * FP rate; m is floored at 2¹⁴ bits and capped at 2³¹.
    *
    * The built filter enters the probe plan as a LITERAL, not through
    * a 1-row broadcast join: the engine's usual crossJoin(broadcast(…))
    * idiom is correct for tiny bounds/stats rows but wrong for a
    * megabyte binary — every probe row's `UnsafeRow.getBinary` would
    * COPY the filter (measured: 26 s vs 3.8 s for the exact twin at
    * sf0.1, pure memcpy). A codegen Literal is one reference held by
    * the generated class, zero per-row cost; the driver-side one-row
    * collect that creates it ships exactly the bytes a broadcast
    * would.
    *
    * The FP-removing join is a partitioned hash SEMI-JOIN of the test
    * grams against the DISTINCT bloom survivors — third spelling,
    * each measured. (1) Broadcasting the survivors inverts on a
    * high-contamination corpus (survivors ≈ all train grams on the
    * dup-heavy 10×: 2.7× its sf0.1 time) — survivor size is a function
    * of the DATA, never safe to broadcast. (2) Broadcasting the TEST
    * side keeps the train lineage map-side end to end, but the
    * broadcast is ~|test grams| rows built single-threaded and copied
    * per task: 16.3 s at the 100× corpus, SLOWER than the 9.5 s exact
    * twin it exists to beat. (3) This spelling exchanges only the
    * deduped survivors plus the test grams — by construction NEVER
    * more than the exact twin's exchange (survivors ⊆ distinct train
    * grams; the map-side Bloom prune can only shrink it, and on a
    * clean production corpus shrinks it to ≈ fpp·|train|) — and
    * measured 13.1 s at 100× (ratio 6.0×), trading ~0.7 s at sf0.1
    * where two tiny exchanges cost more than one tiny broadcast.
    * Semantics are exact: a false-positive survivor's gram is by
    * definition absent from the test set, so the semi-join drops it. */
  val contaminationBloom: NamedQuery = NamedQuery(
    "docs_contamination_bloom", contaminationSql) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val b = expr(splitBucketSpark)
    val grams = gramsCol
    val split = docs(s, d)
      .select(col("doc_id"), col("lang"), b.as("b"), grams.as("gs"))
    // (lang, doc_id, gram) distinct is per-document — doc_id is in the
    // key and lang is functionally dependent on it — so array_distinct
    // settles it map-side with no exchange (the .distinct() spelling
    // shuffled rows that were already unique after the map-side partial).
    // NOT localCheckpoint'ed despite three consuming actions: measured
    // at 100×, materializing the eval split moved nothing (15.8 →
    // 16.0 s) — post-fold, re-tokenizing the 10% test split is cheaper
    // than the bookkeeping.
    val testGrams = split.where(col("b") === 9)
      .select(col("lang"), col("doc_id"),
        explode(array_distinct(col("gs"))).as("gram"))
    val nBound = docs(s, d)
      .select(col("doc_id"), col("n_chars"))
      .where(b === 9)
      .agg(coalesce(sum(expr("(n_chars + 1) div 2 + 1")), lit(0L)))
      .head.getLong(0)
    val mBits = math.min(math.max(nBound * 10L, 1L << 14),
      Int.MaxValue.toLong).toInt
    val bloomBytes = testGrams
      .agg(expr(s"graft_bloom_agg(xxhash64(lang, gram), $mBits, 7)"))
      .head.getAs[Array[Byte]](0)
    val survivors = split.where(col("b") < 8)
      .select(col("lang"), explode(col("gs")).as("gram"))
      .where(call_function("graft_bloom_contains",
        lit(bloomBytes), xxhash64(col("lang"), col("gram"))))
      .distinct()
    val hits = testGrams.join(
      survivors.hint("shuffle_hash"), Seq("lang", "gram"), "left_semi")
    contaminationReport(split, testGrams, hits)
  }

  /** Cross-document span duplication — the exact-substring dedup metric
    * of "Deduplicating Training Data Makes Language Models Better" (Lee
    * et al., 2022): for each document, the fraction of its distinct
    * word-13-gram windows that also occur in at least one OTHER document
    * (the approximation of suffix-array repeated-substring coverage that
    * production pipelines actually run — hashed fixed-width windows
    * instead of a suffix array). Reuses [[contamination]]'s gram
    * representation: 52-bit polynomial-folded token-hash ids (see
    * [[gramListDuck]]), so the shuffles move 8-byte longs, and the
    * token-hash array is bound as a lambda variable (the
    * CollapseProject barrier — without it the per-token hash pass
    * re-runs once per gram). A gram counts as duplicated when its document set has ≥2
    * members, decided by `min(doc_id) <> max(doc_id)` — one algebraic
    * aggregation, no distinct-count sketch needed. Shape at 100 TB:
    * explode → distinct on (doc_id, gram) (near-unique key), one
    * gram-keyed aggregation whose exchange the probe join reuses, one
    * doc-keyed rollup; nothing is pairwise — this is the metric that
    * REPLACES pair generation when only coverage (not pair identity) is
    * needed. Top-20 by duplicated fraction (ties broken on doc_id); the
    * int/int division is IEEE-identical in both engines. */
  val spanDedup: NamedQuery = NamedQuery(
    "docs_span_dedup",
    s"""WITH t AS (SELECT doc_id, $tokHashListDuck AS t FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         $gramListDuck AS gs
       |  FROM t
       |),
       |pg AS (SELECT doc_id, unnest(list_distinct(gs)) AS gram FROM g),
       |st AS (SELECT gram, min(doc_id) AS d0, max(doc_id) AS d1
       |       FROM pg GROUP BY 1),
       |per AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |         CAST(count(*) FILTER (WHERE d0 <> d1) AS BIGINT)
       |           AS n_dup_grams
       |  FROM pg JOIN st USING (gram) GROUP BY 1
       |)
       |SELECT d.doc_id, d.source, n_grams, n_dup_grams,
       |       CAST(n_dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |         AS dup_frac
       |FROM per JOIN documents d USING (doc_id)
       |ORDER BY dup_frac DESC, d.doc_id
       |LIMIT 20""".stripMargin) { (s, d) =>
    val pg = spanDedupGramsFor(docs(s, d))
    val st = pg.groupBy("gram")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
    val per = pg.join(st, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("d0") =!= col("d1"), 1)).as("n_dup_grams"))
    per.join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("n_grams"),
        col("n_dup_grams"),
        (col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
          .as("dup_frac"))
      .orderBy(col("dup_frac").desc, col("doc_id"))
      .limit(20)
  }

  /** Quality-filter cascade funnel — the retention dashboard every
    * corpus-cleaning pipeline maintains: per source, how many documents
    * survive each successive Gopher/MassiveText-style filter stage
    * (Rae et al., 2021). Stages, cumulative: (1) length `n_tok ≥ 40`;
    * (2) repetition — top-bigram occupancy `5·top_c < n_bi` and
    * unique-word ratio `2·n_uniq > n_tok` (the [[repetition]] flags,
    * inverted to "passes"); (3) quality — ≥2 stopwords and alphabetic
    * ratio ≥ 0.7, integer-spelled `10·n_alpha ≥ 7·n_tok` (the
    * [[quality]] component family). Every predicate is an integer
    * inequality, so the twins agree bit-for-bit with no float
    * thresholds anywhere. (Thresholds are calibrated to this synthetic
    * low-vocabulary corpus; production Gopher bounds differ in value,
    * not shape.) Shape at 100 TB: stages 1 and 3 are pure map-side
    * per-doc arithmetic; stage 2 reuses [[repetition]]'s (doc_id,
    * bigram) aggregation — near-unique key, skew-free; the rollup
    * collapses to O(sources) rows. */
  val filterFunnel: NamedQuery = NamedQuery(
    "docs_filter_funnel",
    s"""WITH t AS (SELECT doc_id, source, $tokDuck AS t, text FROM documents),
       |base AS (
       |  SELECT doc_id, source,
       |         CAST(len(t) AS BIGINT) AS n_tok,
       |         CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq,
       |         CAST(len(list_filter(t,
       |           x -> list_contains($stopListDuck, x)))
       |           AS BIGINT) AS stop_cnt,
       |         CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT)
       |           AS n_alpha
       |  FROM t
       |),
       |$bigramStatsDuck
       |SELECT source, count(*) AS n_docs,
       |       CAST(count(*) FILTER (WHERE n_tok >= 40) AS BIGINT)
       |         AS n_after_len,
       |       CAST(count(*) FILTER (WHERE n_tok >= 40
       |         AND 5 * top_c < n_bi AND 2 * n_uniq > n_tok) AS BIGINT)
       |         AS n_after_rep,
       |       CAST(count(*) FILTER (WHERE n_tok >= 40
       |         AND 5 * top_c < n_bi AND 2 * n_uniq > n_tok
       |         AND stop_cnt >= 2 AND 10 * n_alpha >= 7 * n_tok) AS BIGINT)
       |         AS n_after_quality
       |FROM base LEFT JOIN tb USING (doc_id)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin) { (s, d) =>
    val toks = docs(s, d)
      .select(col("doc_id"), col("source"), col("text"),
        expr(tokSpark).as("t"))
    val perDoc = toks.select(col("doc_id"), col("source"),
      size(col("t")).cast("long").as("n_tok"),
      size(array_distinct(col("t"))).cast("long").as("n_uniq"),
      expr(s"size(filter(t, x -> array_contains($stopListSpark, x)))")
        .cast("long").as("stop_cnt"),
      expr("size(regexp_extract_all(text, '[a-z]+', 0))").cast("long")
        .as("n_alpha"),
      col("t"))
    val pLen = col("n_tok") >= 40
    val pRep = pLen && col("top_c") * 5 < col("n_bi") &&
      col("n_uniq") * 2 > col("n_tok")
    val pQ = pRep && col("stop_cnt") >= 2 &&
      col("n_alpha") * 10 >= col("n_tok") * 7
    foldBigramStats(perDoc,
      Seq("source", "n_tok", "n_uniq", "stop_cnt", "n_alpha"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(pLen, 1)).as("n_after_len"),
        count(when(pRep, 1)).as("n_after_rep"),
        count(when(pQ, 1)).as("n_after_quality"))
      .orderBy("source")
  }

  /** Fuzzy train/test contamination — the near-duplicate complement of
    * [[contamination]]'s exact 13-gram check (eval decontamination in
    * the GPT-3/Llama reports runs BOTH): a test document is fuzzily
    * contaminated when some train document's shingle-Jaccard with it is
    * ≥ 0.5, with candidates generated by the SAME banded-minhash LSH
    * the dedup family uses ([[minhashCandPairs]]) — never all-pairs.
    * The split is [[trainSplit]]'s md5 bucket assignment (b<8 train,
    * b=9 test). Candidates are pruned to cross-split pairs BEFORE the
    * shingle-verification join, so the expensive step runs only on
    * train×test survivors. Shape at 100 TB: the chain is the measured
    * minhash shape plus one broadcast-size side-lookup per pair and an
    * O(langs) rollup; the verification join moves only pruned pairs. */
  val fuzzyContamination: NamedQuery = NamedQuery(
    "docs_fuzzy_contamination",
    s"""WITH ${minhashChainDuck("SELECT doc_id, text FROM documents")},
       |sp AS (
       |  SELECT doc_id, lang,
       |         $splitBucketDuck AS b
       |  FROM documents
       |),
       |mixed AS (
       |  SELECT cand.doc_a, cand.doc_b,
       |         CASE WHEN sb.b = 9 THEN cand.doc_b
       |              ELSE cand.doc_a END AS test_doc
       |  FROM cand
       |  JOIN sp sa ON sa.doc_id = cand.doc_a
       |  JOIN sp sb ON sb.doc_id = cand.doc_b
       |  WHERE (sa.b < 8 AND sb.b = 9) OR (sa.b = 9 AND sb.b < 8)
       |),
       |ver AS (
       |  SELECT * FROM (
       |    SELECT m.test_doc,
       |           $jaccardSelectDuck
       |    FROM mixed m
       |    JOIN sh x ON x.doc_id = m.doc_a
       |    JOIN sh y ON y.doc_id = m.doc_b
       |  ) WHERE jaccard >= 0.5
       |),
       |td AS (SELECT lang, count(*) AS n_test FROM sp WHERE b = 9 GROUP BY 1),
       |hits AS (
       |  SELECT sp.lang,
       |         count(DISTINCT v.test_doc) AS n_fuzzy_contam,
       |         count(*) AS n_pairs
       |  FROM ver v JOIN sp ON sp.doc_id = v.test_doc
       |  GROUP BY 1
       |)
       |SELECT td.lang, n_test,
       |       COALESCE(n_fuzzy_contam, 0) AS n_fuzzy_contam,
       |       COALESCE(n_pairs, 0) AS n_pairs
       |FROM td LEFT JOIN hits ON td.lang = hits.lang
       |ORDER BY td.lang""".stripMargin) { (s, d) =>
    // pin (r18 opt): sp feeds four consumers (both candidate-prune join
    // sides, td, hits) and sh three (candidate generation + both
    // verification sides) — unpinned, each consumer re-embedded the
    // corpus scan (+ tokenize/shingle for sh): 7 parquet scans in the
    // plan. The r12 raw-scan-pin precedent (docs_minhash_pairs) does
    // NOT transfer: quiet-window paired A/B (steal < 1 % both arms,
    // trades_count control flat) measured pin 1.26 s vs no-pin 1.62 s,
    // and the no-pin spread (6.8 s) collapsed to 0.83 s — the extra
    // corpus passes were also the noise exposure.
    val bCol = expr(splitBucketSpark)
    val sp = docs(s, d).select(col("doc_id"), col("lang"), bCol.as("b"))
      .pipe(graft.ops.Ckpt.pin)
    val sh = shingleFrame(docs(s, d).select("doc_id", "text"))
      .pipe(graft.ops.Ckpt.pin)
    val sides = sp.select(col("doc_id"), col("b"))
    val mixed = minhashCandPairs(sh)
      .join(sides.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sides.as("sb"), col("sb.doc_id") === col("doc_b"))
      .where((col("sa.b") < 8 && col("sb.b") === 9) ||
        (col("sa.b") === 9 && col("sb.b") < 8))
      .select(col("doc_a"), col("doc_b"),
        when(col("sb.b") === 9, col("doc_b")).otherwise(col("doc_a"))
          .as("test_doc"))
    val ver = verifyJaccard(sh, mixed).where(col("jaccard") >= 0.5)
    val td = sp.where(col("b") === 9)
      .groupBy("lang").agg(count(lit(1)).as("n_test"))
    val hits = ver
      .join(sp.select(col("doc_id").as("test_doc"), col("lang")), "test_doc")
      .groupBy("lang")
      .agg(countDistinct(col("test_doc")).as("n_fuzzy_contam"),
        count(lit(1)).as("n_pairs"))
    td.join(hits, Seq("lang"), "left")
      .select(col("lang"), col("n_test"),
        coalesce(col("n_fuzzy_contam"), lit(0L)).as("n_fuzzy_contam"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("lang")
  }

  /** One deterministic BPE-training iteration — the tokenizer-training
    * counterpart of [[graft.queries.EmbQueries.kmeansRefine]]'s Lloyd
    * step: count adjacent character pairs across the corpus, select the
    * top merge candidate (count desc, pair asc — the textbook
    * tie-break), and report its impact (occurrence count, word types
    * containing it, occurrence-weighted coverage, current character
    * vocabulary). The scale trick is the one production BPE trainers
    * use: collapse the corpus to its WORD-TYPE histogram first (one
    * hash aggregation), then train on types — every pair/merge
    * computation after that first groupBy runs on the vocabulary-sized
    * frame (31 rows here, ~10⁵–10⁶ at web scale), not the corpus, so
    * iterating merges costs O(vocab) per round regardless of corpus
    * size. Further iterations loop this query with the merged symbol
    * applied to the type table. */
  val bpeStep: NamedQuery = NamedQuery(
    "docs_bpe_step",
    s"""WITH tok AS (SELECT unnest($tokDuck) AS w FROM documents),
       |wc AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
       |pairs AS (
       |  SELECT w, c,
       |         unnest(list_transform(range(1, len(w)),
       |           i -> substr(w, i, 2))) AS p
       |  FROM wc
       |),
       |pc AS (SELECT p, CAST(sum(c) AS BIGINT) AS pair_count
       |       FROM pairs GROUP BY 1),
       |top AS (SELECT p, pair_count FROM pc
       |        ORDER BY pair_count DESC, p LIMIT 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM wc),
       |hit AS (SELECT count(*) AS n_word_types,
       |               CAST(sum(c) AS BIGINT) AS hit_c
       |        FROM wc, top WHERE strpos(w, p) > 0),
       |vocab AS (SELECT count(DISTINCT ch) AS vocab_chars FROM (
       |  SELECT unnest(list_transform(range(1, len(w) + 1),
       |    i -> substr(w, i, 1))) AS ch FROM wc))
       |SELECT p AS pair, pair_count, n_word_types,
       |       CAST(hit_c AS DOUBLE) / CAST(total AS DOUBLE)
       |         AS word_coverage,
       |       vocab_chars
       |FROM top, hit, tot, vocab""".stripMargin) { (s, d) =>
    val wc = docs(s, d)
      .select(explode(expr(tokSpark)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      // pin (r17 opt): four consumers (pair histogram, total, hit,
      // vocab) each re-ran the corpus tokenize + histogram unpinned;
      // the word-type histogram is the vocabulary-sized frame the
      // scaladoc's scale story already trains on — materialize it once
      .pipe(graft.ops.Ckpt.pin)
    val pc = wc
      .select(col("w"), col("c"),
        // guard 1-char words: sequence(1, 0) is the DESCENDING [1, 0]
        // in Spark (substring pos 0 aliases pos 1 → a phantom self-pair
        // counted twice), while DuckDB's range(1, 1) is empty — the
        // empty-array guard keeps the twins lockstep (same guard as
        // bigramsFromTokens)
        explode(expr(
          "CASE WHEN char_length(w) < 2 THEN array() ELSE " +
            "transform(sequence(1, char_length(w) - 1), " +
            "i -> substring(w, i, 2)) END"))
          .as("p"))
      .groupBy("p").agg(sum(col("c")).as("pair_count"))
    val top = pc.orderBy(col("pair_count").desc, col("p")).limit(1)
    val tot = wc.agg(sum(col("c")).as("total"))
    val hit = wc.crossJoin(broadcast(top))
      .where(expr("instr(w, p) > 0"))
      .agg(count(lit(1)).as("n_word_types"), sum(col("c")).as("hit_c"))
    val vocab = wc
      .select(explode(expr(
        // same guard as the pair expr: for the empty-string word type
        // (a blank doc tokenizes to ['']), sequence(1, 0) is the
        // DESCENDING [1, 0] and would emit two phantom '' chars where
        // DuckDB's range is empty
        "CASE WHEN char_length(w) < 1 THEN array() ELSE " +
          "transform(sequence(1, char_length(w)), " +
          "i -> substring(w, i, 1)) END"))
        .as("ch"))
      .agg(countDistinct(col("ch")).as("vocab_chars"))
    top.crossJoin(broadcast(hit))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(vocab))
      .select(col("p").as("pair"), col("pair_count"), col("n_word_types"),
        (col("hit_c").cast("double") / col("total").cast("double"))
          .as("word_coverage"),
        col("vocab_chars"))
  }

  /** Merges trained by [[bpeTrain]] (chars + 8 merge rules). */
  private[graft] val BpeMerges = 8

  /** The FULL BPE training loop — [[bpeStep]] iterated to a target
    * vocabulary (character vocab + [[BpeMerges]] merges), producing the
    * ordered merge table a tokenizer ships with. Training state is a
    * symbol string per word type (space-joined — symbols never contain
    * spaces); one merge round = (1) pair histogram over the type table,
    * (2) argmax by (count DESC, pair ASC), (3) greedy left-to-right
    * merge application as a sequential fold over each word's symbols.
    * Both engines run the IDENTICAL fold (Spark `aggregate` == DuckDB
    * `list_reduce`, validated on the odd-run case `a a a a` → `aa aa`),
    * and every value in the merge table is exact (strings + integer
    * counts), so the twins hash-match with no float discipline needed.
    *
    * Scale shape (the production trainer's): the corpus collapses ONCE
    * to its word-type histogram (one map-side-combined aggregation —
    * the only corpus-sized pass), then every round runs on the
    * vocab-sized frame: O(types) pair explode + argmax TakeOrdered(1)
    * + fold, independent of corpus size. `localCheckpoint` truncates
    * each round's lineage — without it the state DAG doubles per round
    * (argmax branch + merge branch both re-derive the parent) and round
    * K would replay the corpus scan 2^K times.
    *
    * Self-validating invariant, property-tested in BpeTrainSpec:
    * selected pair counts are monotonically NON-increasing — a theorem
    * (every pair involving a just-merged symbol XY inherits at most
    * count(X,Y) occurrences; all pre-existing pairs already lost the
    * argmax), so any increase is an engine bug, not a corpus quirk. */
  /** The DuckDB CTE prelude shared by [[bpeTrain]] and [[bpeEncode]]:
    * word-type histogram (`wc0`, char-joined symbol strings), then
    * [[BpeMerges]] unrolled rounds of pair-count → argmax → greedy fold
    * (`pc_i` / `top_i` / `wc_{i+1}`) — one oracle spelling of the
    * training recursion, two consumers, zero drift (the
    * `ingestGateCtesDuck` discipline). `wc$BpeMerges` is the fully
    * merged type table, i.e. each word type's BPE ENCODING. */
  private val bpeCtesDuck: String = {
    def pairsDuck(s: String): String =
      s"list_transform(range(1, len(string_split($s, ' '))), " +
        s"j -> string_split($s, ' ')[j] || ' ' || string_split($s, ' ')[j+1])"
    def mergeDuck(s: String, p: String): String =
      s"""CASE WHEN len(string_split($s, ' ')) < 2 THEN $s
         |ELSE list_reduce(string_split($s, ' '), (acc, x) -> CASE
         |  WHEN x = string_split($p, ' ')[2]
         |       AND string_split(acc, ' ')[-1] = string_split($p, ' ')[1]
         |  THEN CASE WHEN len(string_split(acc, ' ')) = 1
         |            THEN replace($p, ' ', '')
         |       ELSE array_to_string(string_split(acc, ' ')[1:-2], ' ')
         |            || ' ' || replace($p, ' ', '') END
         |  ELSE acc || ' ' || x END) END""".stripMargin.replace("\n", " ")
    val cteChain = (0 until BpeMerges).map { i =>
      s"""pc$i AS (SELECT p, CAST(sum(c) AS BIGINT) AS pair_count FROM (
         |  SELECT c, unnest(${pairsDuck("s")}) AS p FROM wc$i) GROUP BY 1),
         |top$i AS (SELECT p, pair_count FROM pc$i
         |          ORDER BY pair_count DESC, p LIMIT 1),
         |wc${i + 1} AS (SELECT ${mergeDuck("s", "p")} AS s, c
         |               FROM wc$i, top$i)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (SELECT unnest($tokDuck) AS w FROM documents),
       |wc0 AS (
       |  SELECT array_to_string(list_transform(range(1, len(w) + 1),
       |           i -> substr(w, i, 1)), ' ') AS s,
       |         count(*) AS c
       |  FROM tok GROUP BY 1),
       |$cteChain""".stripMargin
  }

  /** The Spark side of [[bpeCtesDuck]] — the training fold shared by
    * [[bpeTrain]] (consumes the per-round argmaxes) and [[bpeEncode]]
    * (consumes the final merged type table). Returns
    * `(encoded word types (s, c), per-round merge rows)`. See
    * [[bpeTrain]]'s scaladoc for the scale argument; the sequence
    * guards mirror bpeStep's (Spark's `sequence(1, 0)` is the
    * DESCENDING `[1, 0]` where DuckDB's `range(1, 1)` is empty). */
  private def bpeFold(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame]) = {
    val charJoin =
      "CASE WHEN char_length(w) < 1 THEN '' ELSE " +
        "array_join(transform(sequence(1, char_length(w)), " +
        "i -> substring(w, i, 1)), ' ') END"
    val pairsSpark =
      "CASE WHEN size(split(s, ' ')) < 2 THEN array() " +
        "ELSE transform(sequence(1, size(split(s, ' ')) - 1), " +
        "j -> concat(element_at(split(s, ' '), j), ' ', " +
        "element_at(split(s, ' '), j + 1))) END"
    val mergeSpark =
      """CASE WHEN size(split(s, ' ')) < 2 THEN s ELSE
        |aggregate(slice(split(s, ' '), 2, size(split(s, ' ')) - 1),
        |  element_at(split(s, ' '), 1),
        |  (acc, x) -> CASE
        |    WHEN x = element_at(split(p, ' '), 2)
        |         AND element_at(split(acc, ' '), -1)
        |             = element_at(split(p, ' '), 1)
        |    THEN CASE WHEN size(split(acc, ' ')) = 1
        |              THEN replace(p, ' ', '')
        |         ELSE concat(array_join(slice(split(acc, ' '), 1,
        |              size(split(acc, ' ')) - 1), ' '), ' ',
        |              replace(p, ' ', '')) END
        |    ELSE concat(acc, ' ', x) END) END"""
        .stripMargin.replace("\n", " ")
    var state = docs(s, d)
      .select(explode(expr(tokSpark)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(expr(charJoin).as("s"), col("c"))
      .pipe(graft.ops.Ckpt.pin)
    val tops = (1 to BpeMerges).map { step =>
      val pc = state.select(col("c"), explode(expr(pairsSpark)).as("p"))
        .groupBy("p").agg(sum(col("c")).as("pair_count"))
      val top = pc.orderBy(col("pair_count").desc, col("p")).limit(1)
        .pipe(graft.ops.Ckpt.pin)
      state = state.crossJoin(broadcast(top))
        .select(expr(mergeSpark).as("s"), col("c"))
        .pipe(graft.ops.Ckpt.pin)
      top.select(lit(step).as("step"), col("p").as("pair"),
        expr("replace(p, ' ', '')").as("merged"), col("pair_count"))
    }
    (state, tops)
  }

  val bpeTrain: NamedQuery = {
    val unions = (0 until BpeMerges).map { i =>
      s"SELECT ${i + 1} AS step, p AS pair, replace(p, ' ', '') AS merged, " +
        s"pair_count FROM top$i"
    }.mkString("\nUNION ALL\n")
    NamedQuery(
      "docs_bpe_train",
      s"""WITH $bpeCtesDuck
         |SELECT step, pair, merged, pair_count FROM (
         |$unions
         |) ORDER BY step""".stripMargin) { (s, d) =>
      val (_, tops) = bpeFold(s, d)
      tops.reduce(_ unionAll _).orderBy("step")
    }
  }

  /** APPLY-BPE — the missing third of the tokenizer story ([[bpeTrain]]
    * ships the merge table, [[bpeStep]] is one round; this ENCODES the
    * corpus with the trained merges — the operator a training-data
    * pipeline actually runs over 100 TB). Encoding a training-corpus
    * word = the same greedy left-to-right fold as training, applied
    * per merge in training order, so the encoded corpus is exactly the
    * final type table of the fold. The readout is the top-20 token
    * histogram (occurrences = corpus occurrences through the word-type
    * counts; n_word_types = distinct words containing the token) —
    * bounded output that pins every symbol boundary: a single
    * misplaced merge shifts token identities and the hash.
    *
    * Scale shape: the corpus is touched ONCE (the word-type
    * histogram's map-side-combined aggregation); encoding then runs on
    * the vocabulary-sized type table — O(types) per merge, independent
    * of corpus size — and re-weighting by `c` recovers corpus-level
    * counts without ever re-scanning or joining back to documents.
    * That is how production tokenizers encode at scale: encode each
    * DISTINCT word once, multiply by frequency. */
  val bpeEncode: NamedQuery = NamedQuery(
    "docs_bpe_encode",
    s"""WITH $bpeCtesDuck
       |SELECT token,
       |       CAST(sum(c) AS BIGINT) AS occurrences,
       |       count(DISTINCT s) AS n_word_types
       |FROM (SELECT s, unnest(string_split(s, ' ')) AS token, c
       |      FROM wc$BpeMerges)
       |GROUP BY 1
       |ORDER BY occurrences DESC, token
       |LIMIT 20""".stripMargin) { (s, d) =>
    val (encoded, _) = bpeFold(s, d)
    // n_word_types counts DISTINCT types (the independent-reference
    // property in BpeTrainSpec caught the plain count(*) spelling
    // counting token POSITIONS — a word containing the token twice
    // counted twice)
    encoded
      .select(col("s"), explode(split(col("s"), " ")).as("token"), col("c"))
      .groupBy("token")
      .agg(sum(col("c")).as("occurrences"),
        countDistinct(col("s")).as("n_word_types"))
      .orderBy(col("occurrences").desc, col("token"))
      .limit(20)
  }

  /** Temperature-scaled language rebalancing (the multilingual-corpus
    * mixing step, α = 0.5): each language keeps an acceptance fraction
    * p_l = √(n_min / n_l), so over-represented languages are downsampled
    * toward the α-tempered distribution while the smallest keeps all its
    * docs. The acceptance test is PURE INTEGER — a doc with hash byte b
    * (0..255) survives iff b²·n_l < 256²·n_min, which is exactly
    * b/256 < √(n_min/n_l) with no float in sight, so both engines agree
    * bit-for-bit. The scale shape: acceptance depends only on
    * (lang, hash byte), so the per-doc work collapses to a
    * (lang × 256)-cell histogram — one map-side-combined aggregation
    * over the corpus; everything after runs on ≤ 256·|langs| rows with
    * broadcast scalars, never a per-doc join.
    * Reference discipline: deterministic content-hash bucketing, as in
    * the split assignment (`sql/V1__create_trades_table.sql:13`'s
    * hash-order idea applied to sampling). */
  val temperatureMix: NamedQuery = NamedQuery(
    "docs_temperature_mix",
    """WITH b AS (
      |  SELECT lang,
      |         CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2)
      |              AS BIGINT) AS b
      |  FROM documents
      |),
      |hist AS (SELECT lang, b, count(*) AS cnt FROM b GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_before
      |        FROM hist GROUP BY 1),
      |mn AS (SELECT min(n_before) AS n_min FROM tot),
      |gt AS (SELECT CAST(sum(n_before) AS BIGINT) AS total_before FROM tot),
      |aft AS (
      |  SELECT h.lang, CAST(sum(h.cnt) AS BIGINT) AS n_after
      |  FROM hist h JOIN tot USING (lang) CROSS JOIN mn
      |  WHERE h.b * h.b * tot.n_before < 65536 * mn.n_min
      |  GROUP BY 1
      |),
      |ga AS (SELECT CAST(sum(n_after) AS BIGINT) AS total_after FROM aft)
      |SELECT t.lang, t.n_before, coalesce(a.n_after, 0) AS n_after,
      |       CAST(t.n_before AS DOUBLE) / CAST(gt.total_before AS DOUBLE)
      |         AS share_before,
      |       CAST(coalesce(a.n_after, 0) AS DOUBLE)
      |         / CAST(ga.total_after AS DOUBLE) AS share_after,
      |       CAST(coalesce(a.n_after, 0) AS DOUBLE)
      |         / CAST(t.n_before AS DOUBLE) AS accept_rate
      |FROM tot t LEFT JOIN aft a USING (lang)
      |CROSS JOIN gt CROSS JOIN ga
      |ORDER BY t.lang""".stripMargin) { (s, d) =>
    val b = docs(s, d).select(col("lang"),
      expr("cast(conv(substr(md5(concat('mix:', cast(doc_id AS string))), " +
        "1, 2), 16, 10) AS bigint)").as("b"))
    // pin (r18 opt): hist is the (lang × 256)-cell histogram the scaladoc's
    // scale story reduces the corpus to — but unpinned, every downstream
    // reference (tot ×4 via mn/gt/aft/final, aft ×2 via ga/final) re-embeds
    // the corpus scan + aggregation lineage: the plan carried 8 parquet
    // scans and 29 exchanges for a query whose post-histogram work is
    // ≤ 256·|langs| rows. One corpus read, one tiny materialization.
    val hist = b.groupBy("lang", "b").agg(count(lit(1)).as("cnt"))
      .pipe(graft.ops.Ckpt.pin)
    val tot = hist.groupBy("lang").agg(sum(col("cnt")).as("n_before"))
    val mn = tot.agg(min(col("n_before")).as("n_min"))
    val gt = tot.agg(sum(col("n_before")).as("total_before"))
    val aft = hist.join(broadcast(tot), "lang").crossJoin(broadcast(mn))
      .where(col("b") * col("b") * col("n_before") <
        lit(65536L) * col("n_min"))
      .groupBy("lang").agg(sum(col("cnt")).as("n_after"))
    val ga = aft.agg(sum(col("n_after")).as("total_after"))
    tot.join(aft, Seq("lang"), "left")
      .crossJoin(broadcast(gt)).crossJoin(broadcast(ga))
      .select(col("lang"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (col("n_before").cast("double") / col("total_before").cast("double"))
          .as("share_before"),
        (coalesce(col("n_after"), lit(0L)).cast("double") /
          col("total_after").cast("double")).as("share_after"),
        (coalesce(col("n_after"), lit(0L)).cast("double") /
          col("n_before").cast("double")).as("accept_rate"))
      .orderBy("lang")
  }

  /** Deterministic epoch shuffle + sharding — the training-order step: a
    * per-epoch salted hash (`md5('e<epoch>:' || doc_id)`) gives every doc
    * a fresh pseudo-random position each epoch, and `first-byte % 8`
    * assigns it to a data-loader shard. Reported per (epoch, shard):
    * sizes (balance check), char volume, and the hash-order head/tail doc
    * (`min_by`/`max_by` on the hash key — proves the ORDER really
    * re-deals between epochs without materializing a global sort). One
    * map-side-combined aggregation into 16 groups; the full shuffle a
    * trainer would consume is the same expression used as a sort key,
    * which at 100 TB is a per-shard local sort after the hash partition —
    * no global ordering bottleneck. */
  val epochShuffle: NamedQuery = NamedQuery(
    "docs_epoch_shuffle",
    """WITH e AS (
      |  SELECT d.doc_id, d.n_chars, ep.epoch,
      |         md5('e' || ep.epoch || ':' || CAST(d.doc_id AS VARCHAR)) AS k
      |  FROM documents d
      |  CROSS JOIN (SELECT unnest([0, 1]) AS epoch) ep
      |)
      |SELECT epoch,
      |       CAST('0x' || substr(k, 1, 2) AS BIGINT) % 8 AS shard,
      |       count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       arg_min(doc_id, k) AS first_doc,
      |       arg_max(doc_id, k) AS last_doc
      |FROM e
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(col("doc_id"), col("n_chars"),
        explode(expr("array(0, 1)")).as("epoch"))
      .select(col("doc_id"), col("n_chars"), col("epoch"),
        expr("md5(concat('e', epoch, ':', cast(doc_id AS string)))").as("k"))
      .groupBy(col("epoch"),
        expr("cast(conv(substr(k, 1, 2), 16, 10) AS bigint) % 8").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min_by(col("doc_id"), col("k")).as("first_doc"),
        max_by(col("doc_id"), col("k")).as("last_doc"))
      .orderBy("epoch", "shard")
  }

  /** Fasttext-style linear quality classifier: an integer-weighted
    * bag-of-words score (+2 per fluency stopword, −3 per spam word —
    * shared lexicons [[Stopwords]]/[[SpamWords]]) normalized per 100
    * tokens, banded into high/mid/low/spam classes. The banding is PURE
    * INTEGER (`100·Σw ≥ 60·n_tok` etc.), so class assignment can never
    * drift between engines; the only float is the final aggregated mean,
    * one exact int/int division. Token array bound once behind the
    * CollapseProject lambda barrier (see [[gramsCol]]); per-doc work
    * is map-side, then one low-cardinality (lang × band) aggregation —
    * the linear-classifier-gate shape production pipelines run at
    * ingest. */
  val classifierScore: NamedQuery = NamedQuery(
    "docs_classifier_score",
    s"""WITH sc AS (
       |  SELECT lang, len(toks) AS n_tok,
       |         CAST(list_sum(list_transform(toks, t ->
       |           CASE WHEN list_contains($spamListDuck, t) THEN -3
       |                WHEN list_contains($stopListDuck, t) THEN 2
       |                ELSE 0 END)) AS BIGINT) AS w_sum
       |  FROM (SELECT lang,
       |               string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM documents)
       |),
       |banded AS (
       |  SELECT lang, n_tok, w_sum,
       |         CASE WHEN 100 * w_sum >= 60 * n_tok THEN 'high'
       |              WHEN 100 * w_sum >= 20 * n_tok THEN 'mid'
       |              WHEN w_sum >= 0 THEN 'low'
       |              ELSE 'spam' END AS band
       |  FROM sc
       |)
       |SELECT lang, band, count(*) AS n_docs,
       |       CAST(sum(w_sum) AS BIGINT) AS sum_w,
       |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
       |       CAST(100 * sum(w_sum) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)
       |         AS mean_score
       |FROM banded
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val perDoc =
      s"""element_at(transform(array(split(trim(lower(text)), '\\\\s+')),
         |  toks -> named_struct(
         |    'n_tok', size(toks),
         |    'w_sum', aggregate(toks, cast(0 AS bigint), (acc, t) ->
         |      acc + CASE WHEN array_contains($spamListSpark, t) THEN -3L
         |                 WHEN array_contains($stopListSpark, t) THEN 2L
         |                 ELSE 0L END))), 1)"""
        .stripMargin.replace("\n", " ")
    docs(s, d)
      .select(col("lang"), expr(perDoc).as("m"))
      .select(col("lang"), col("m.n_tok").as("n_tok"),
        col("m.w_sum").as("w_sum"))
      .withColumn("band", expr(
        """CASE WHEN 100 * w_sum >= 60 * n_tok THEN 'high'
          |     WHEN 100 * w_sum >= 20 * n_tok THEN 'mid'
          |     WHEN w_sum >= 0 THEN 'low'
          |     ELSE 'spam' END""".stripMargin.replace("\n", " ")))
      .groupBy("lang", "band")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("w_sum")).as("sum_w"),
        sum(col("n_tok")).as("sum_tok"),
        ((lit(100L) * sum(col("w_sum"))).cast("double") /
          sum(col("n_tok")).cast("double")).as("mean_score"))
      .orderBy("lang", "band")
  }

  /** Inverted-index build — the retrieval-index construction step a
    * RAG / dense+sparse hybrid pipeline runs over the corpus: per-term
    * document frequency, collection frequency, and a BOUNDED posting
    * sample (top-5 docs by term frequency, ties to the smaller doc_id).
    * The postings run through the custom bounded
    * [[graft.functions.TopKByScore]] aggregate, so each map task sends
    * at most k postings per term into the shuffle — O(terms × k)
    * exchanged rows — and df/cf/postings all come out of ONE
    * aggregate in one pass.
    *
    * Measured against the window spelling (sf0.1 + 10×, recorded in
    * COVERAGE.md "Dedup-before-pair-generation, measured"): Spark ≥3.5's `WindowGroupLimit` pushdown already
    * bounds the `row_number ≤ k` window's shuffle (partial group-limit
    * before the exchange — shuffle rows tie), so the heap's win on
    * modern Spark is NOT shuffle volume on this exact pattern; it is
    * skipping the window branch's two per-partition sorts and the
    * df/cf-vs-postings join it forces (the bounded form needs no sort
    * and no join): 1.3×/1.5× faster wall at sf0.1/10×, identical
    * results. The heap also generalizes where rank-filter pushdown
    * can't go (inside one multi-function aggregate, as
    * [[EmbQueries.knnAccuracy]]'s neighbor selection uses it).
    * Head selection is TakeOrdered on (df DESC, term). Postings travel
    * as a joined string (`concat_ws`), the array-compare-safe shape
    * [[langSources]] established. */
  /** ONE oracle for both index lineages: the batch build
    * ([[postingLists]]) and the streaming-MV merge-on-read path
    * ([[postingListsMv]]) hash-compare against the same SQL — the
    * reference's readback discipline (its `trades_1m` MV is verified by
    * re-deriving the aggregate from raw trades, reference:
    * sql/V2__create_trades_1m_view.sql:16-29) applied to retrieval. */
  private val postingListsSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($tokDuck) AS tok FROM documents
       |),
       |tf AS (SELECT tok, doc_id, count(*) AS c FROM tok GROUP BY 1, 2),
       |agg AS (
       |  SELECT tok, count(*) AS df, CAST(sum(c) AS BIGINT) AS cf
       |  FROM tf GROUP BY 1
       |),
       |r AS (
       |  SELECT tok, doc_id,
       |         row_number() OVER (PARTITION BY tok
       |                            ORDER BY c DESC, doc_id) AS rk
       |  FROM tf
       |),
       |post AS (
       |  SELECT tok,
       |         array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY rk),
       |                         ',') AS top_docs
       |  FROM r WHERE rk <= 5 GROUP BY tok
       |)
       |SELECT a.tok AS term, a.df, a.cf, p.top_docs
       |FROM agg a JOIN post p USING (tok)
       |ORDER BY a.df DESC, term
       |LIMIT 20""".stripMargin

  val postingLists: NamedQuery = NamedQuery(
    "docs_posting_lists", postingListsSql) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val tok = docs(s, d)
      .select(col("doc_id"), explode(expr(tokSpark)).as("tok"))
    val tf = tok.groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
    tf.groupBy("tok")
      .agg(
        count(lit(1)).as("df"),
        sum(col("c")).as("cf"),
        expr("graft_topk(cast(c AS double), doc_id, 5)").as("topk"))
      .select(col("tok").as("term"), col("df"), col("cf"),
        expr("concat_ws(',', transform(topk, p -> cast(p.id AS string)))")
          .as("top_docs"))
      .orderBy(col("df").desc, col("term"))
      .limit(20)
  }

  /** The streaming inverted-index MV's READ path, oracle-checked: the
    * corpus is ingested as four doc_id-hash blocks through the
    * batch-bootstrap path ([[graft.streaming.IndexMV.writeBlocks]]:
    * ONE corpus pass aggregated per block, each block committed
    * through the same watermark-gated crash-safe swap the streaming
    * [[graft.streaming.IndexMV.writeBlock]] sink uses — the former
    * per-block delivery spelling re-scanned the corpus once per block;
    * IndexMVSpec pins the two ingests store-equal), the first three
    * blocks are then compacted through
    * [[graft.streaming.IndexMV.compact]], and the result is read
    * through the merge fold — so the lineage the oracle hashes goes
    * partials → compaction → merge, not the batch shortcut. Verified
    * against the SAME SQL as [[postingLists]] (df/cf counters add;
    * bounded heaps re-select exactly because each doc's text lives
    * whole in one block — the MV's stated delivery contract,
    * guaranteed here by the doc_id split).
    *
    * The store builds in a per-invocation temp dir (driver-side, tiny:
    * O(vocab × k) per block); the returned frame reads from it lazily,
    * so the dir must outlive the call — it is cleaned on JVM exit, not
    * eagerly. */
  val postingListsMv: NamedQuery = NamedQuery(
    "docs_posting_lists_mv", postingListsSql) { (s, d) =>
    import graft.streaming.IndexMV
    graft.functions.GraftFunctions.register(s)
    // repo-local scratch, unique per invocation so concurrent runs
    // never share a store; swept once at JVM exit (Store.scratchStore)
    val partials = graft.store.Store.scratchStore("idxmv")
    IndexMV.writeBlocks(docs(s, d), pmod(col("doc_id"), lit(4)), 5, partials,
      expectedBlocks = 0L to 3L)
    IndexMV.compact(s, partials, 5, throughBlockId = 2L)
    // the readback is PURE SQL over the `graft_mv_read` table function
    // (store/MvSql.scala) — the merged index is addressable exactly
    // like `graft_zoned_trades`, and this registered query proves the
    // SQL spelling resolves to the same plan (same oracle hash) as the
    // Scala `IndexMV.merged` it dispatches to
    s.sql(
      s"""SELECT term, df, cf, top_docs
         |FROM graft_mv_read('$partials', 'index', 5)
         |ORDER BY df DESC, term
         |LIMIT 20""".stripMargin)
  }

  /** The fixed retrieval query for the sparse-scoring operators: one
    * rare term (`dup`, df≈5% — the discriminative signal) plus four
    * common ones, so the idf weighting is visibly exercised. One
    * spelling per dialect, kept lockstep by construction. */
  private[graft] val bm25Terms = Seq("dup", "hash", "join", "scan", "vector")
  private def bm25TermsSql: String =
    bm25Terms.map("'" + _ + "'").mkString("(", ", ", ")")

  /** Rational BM25 term score — the log-free analogue of
    * `idf(t) * tf·(k1+1) / (tf + k1·(1−b+b·len/avglen))` at the
    * standard k1=1.2, b=0.75, in the repo's cross-engine float
    * discipline (COVERAGE.md playbook): with avglen = L/N the tf term
    * clears to `22·tf·L / (10·tf·L + 3·L + 9·len·N)` and the idf to the
    * Robertson ratio `(2N−2df+1)/(2df+1)` WITHOUT the ln (same
    * monotonicity per term, never negative — the [[lmSurprise]]
    * precedent). Every operand is an exact BIGINT < 2⁵³ (L is the
    * corpus token count; 22·tf·L tops out ~10¹¹ at the 10× corpus), so
    * both engines see exact doubles in, and IEEE-correct rounding makes
    * the two quotients and their product bit-identical. Valid in BOTH
    * dialects — the twins share this one spelling.
    *
    * Scale bound, stated honestly: clearing avglen keeps `tf·L` exact
    * only while L < ~4·10¹² (2⁵³/22/tf_max). A true 100 TB corpus
    * (L ~ 10¹³ tokens) crosses that, and production code would divide
    * `len·N` by `L` in plain double BEFORE the tf term — same ranking
    * to ~1 ulp, just no longer bit-replayable in a second engine. The
    * cleared form is the right choice HERE because the oracle harness
    * is the correctness gate; the plan shape (the part that must
    * survive 100 TB) is identical either way. */
  private def bm25TermScore(n: String, df: String, tf: String,
                            len: String, l: String): String =
    s"(CAST(2*$n - 2*$df + 1 AS DOUBLE) / CAST(2*$df + 1 AS DOUBLE))" +
      s" * (CAST(22*$tf*$l AS DOUBLE)" +
      s" / CAST(10*$tf*$l + 3*$l + 9*$len*$n AS DOUBLE))"

  /** BM25 top-k retrieval — the sparse half of a hybrid RAG retriever,
    * run directly on the corpus (the online form of the
    * [[postingLists]] index build): score every document against the
    * fixed query term set and return the 10 best. Per-term scores are
    * exact-double rationals ([[bm25TermScore]]); the per-doc sum runs
    * through [[graft.ops.Ops.sumFloat0]]'s shortest-repr-string decimal
    * route so the float sum is order-insensitive and engine-identical.
    * Scale shape: the explode is filtered to the query terms
    * immediately (rows into the tf shuffle ∝ query-term occurrences,
    * not corpus tokens); df (≤5 rows) and the corpus-stats scalar are
    * broadcast; the only data-sized exchanges are the two near-unique
    * keyed aggs; head is TakeOrdered. */
  /** The BM25 CTE chain up to per-doc (matched, score) — shared by
    * [[bm25TopK]] and the hybrid fusion oracle in
    * [[EmbQueries.hybridRrf]] so the two spellings cannot drift. */
  private[graft] def bm25Ctes: String =
    s"""tok AS (
       |  SELECT doc_id, len($tokDuck) AS n_tok, unnest($tokDuck) AS tok
       |  FROM documents
       |),
       |tf AS (
       |  SELECT doc_id, tok, count(*) AS tf, max(n_tok) AS n_tok
       |  FROM tok WHERE tok IN $bm25TermsSql GROUP BY 1, 2
       |),
       |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |         CAST(sum(len($tokDuck)) AS BIGINT) AS corpus_len
       |  FROM documents
       |),
       |scored AS (
       |  SELECT tf.doc_id,
       |         ${bm25TermScore("n_docs", "df", "tf", "tf.n_tok",
                                "corpus_len")} AS term_score
       |  FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
       |),
       |bm25 AS (
       |  SELECT doc_id, count(*) AS matched,
       |         ${Sql.sumFloat0("term_score")} AS score
       |  FROM scored GROUP BY 1
       |)""".stripMargin

  /** Spark twin of [[bm25Ctes]]: per-doc (doc_id, matched, score) for
    * every document matching ≥1 query term. */
  private[graft] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val d0 = docs(s, d)
    // pin (r18 opt): tf is term-filtered — O(query-term occurrences),
    // tiny — but dfreq's reference re-embedded the full corpus
    // tokenize + explode lineage (a third parquet scan in bm25_topk
    // and hybrid_rrf's plans). One tokenize pass, one tiny pin.
    val tf = d0
      .select(col("doc_id"), expr(s"size($tokSpark)").cast("long").as("n_tok"),
        explode(expr(tokSpark)).as("tok"))
      .where(col("tok").isin(bm25Terms: _*))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"), max("n_tok").as("n_tok"))
      .pipe(graft.ops.Ckpt.pin)
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = d0.agg(
      count(lit(1)).as("n_docs"),
      sum(expr(s"size($tokSpark)").cast("long")).as("corpus_len"))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        expr(bm25TermScore("n_docs", "df", "tf", "n_tok", "corpus_len")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched"),
        Ops.sumFloat0(col("term_score")).as("score"))
  }

  val bm25TopK: NamedQuery = NamedQuery(
    "docs_bm25_topk",
    s"""WITH $bm25Ctes
       |SELECT doc_id, matched, score FROM bm25
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
    bm25Scores(s, d)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Positional phrase search — the positional-index retrieval op that
    * completes the sparse family ([[postingLists]] builds the index,
    * [[bm25TopK]] ranks bags of words, this matches ADJACENT terms):
    * docs containing the exact phrase "table hash", ranked by occurrence
    * count. Positions come from `posexplode` (DuckDB twin:
    * `generate_subscripts` — bases differ, 0 vs 1, so the join condition
    * uses only the DIFFERENCE and the reported first position is
    * normalized to 1-based). Adjacency is a self-join on
    * `(doc_id, pos+1)` — a near-unique composite key, an ordinary hash
    * join at any corpus size; the term filters cut both sides to the
    * two query terms' occurrence lists BEFORE the join, so the exchange
    * carries occurrence rows, never the corpus. */
  val phraseSearch: NamedQuery = NamedQuery(
    "docs_phrase_search",
    s"""WITH tok AS (
       |  SELECT doc_id, t.tok, t.pos FROM documents,
       |  LATERAL (SELECT unnest($tokDuck) AS tok,
       |                  generate_subscripts($tokDuck, 1) AS pos) t
       |),
       |a AS (SELECT doc_id, pos FROM tok WHERE tok = 'table'),
       |b AS (SELECT doc_id, pos FROM tok WHERE tok = 'hash')
       |SELECT a.doc_id, count(*) AS hits,
       |       CAST(min(a.pos) AS BIGINT) AS first_pos
       |FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |GROUP BY 1
       |ORDER BY hits DESC, a.doc_id LIMIT 10""".stripMargin) { (s, d) =>
    // pin (r18 opt): the two occurrence sides each re-ran the corpus
    // tokenize + posexplode (2 parquet scans). Filter to BOTH query
    // terms in one pass — O(occurrences of 2 terms), tiny — and pin;
    // the sides are then cheap filters of the pinned frame.
    val tok = docs(s, d)
      .select(col("doc_id"), posexplode(expr(tokSpark)).as(Seq("pos0", "tok")))
      .where(col("tok").isin("table", "hash"))
      // normalize to the oracle's 1-based positions once, up front
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("tok"))
      .pipe(graft.ops.Ckpt.pin)
    val a = tok.where(col("tok") === "table").select("doc_id", "pos")
    val b = tok.where(col("tok") === "hash")
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    a.join(b, Seq("doc_id", "pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("hits"), min(col("pos")).as("first_pos"))
      .orderBy(col("hits").desc, col("doc_id"))
      .limit(10)
  }

  // minhashPairs (the all-pairs LSH enumeration) is deliberately NOT
  // registered (round 12): its pair OUTPUT grows ~F² on dup-heavy
  // corpora (165× wall at the 100× scale point) — the registry carries
  // the membership spellings (dedupThenMinhash, dupClusters) and the
  // gated readback (minhashPairsMv); the all-pairs val survives as the
  // bench/test contrast (see its scaladoc).
  val all: Seq[NamedQuery] = Seq(
    textStats, exactDedup, minhashPairsMv, dedupThenMinhash,
    ingestDedupGate,
    simhash,
    langIdConfusion, quality, fingerprint, normalizedDedup, ngramJaccard,
    tfidfTop, trainSplit, stratifiedSample, qualityQuartiles, dupClusters,
    clusterSplit,
    bigramLm, simhashHamming, corpusBuild, corpusBuildNearDup,
    corpusBuildKeepBest,
    containment, langSources,
    sourceNovelty, sourceGreedy, sourceOverlap, sourceOverlapCapped,
    redaction, packSequences, repetition, contamination, spanDedup,
    filterFunnel, fuzzyContamination, contaminationBloom, dedupThenSimhash,
    lmSurprise,
    bpeStep, bpeTrain, bpeEncode, temperatureMix, epochShuffle,
    classifierScore,
    postingLists, postingListsMv, bm25TopK, phraseSearch)
}
