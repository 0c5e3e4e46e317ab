package graft.operators

import graft.{Dets, QueryFamily, Tables}
import graft.functions.LshBucket
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Dets._

/** SURVEY.md §2.I (part 1) — deduplication + similarity search for an
  * LLM-training-data pipeline.
  *
  * Cross-engine hash: H(s) = first 15 hex digits of md5(s) parsed as a
  * 60-bit integer — Spark `conv(substr(md5(s),1,15),16,10)`, DuckDB
  * `CAST('0x'||substr(md5(s),1,15) AS BIGINT)`. md5 is identical
  * everywhere, so MinHash/SimHash signatures are reproducible in the
  * oracle, unlike engine-native hash().
  *
  * Scale design:
  *  - exact dedup = hash groupBy (shuffle on text hash; at 100 TB group by
  *    md5(text) instead of raw text to keep shuffle rows narrow);
  *  - exact Jaccard pairs = adaptive candidate generation
  *    (candidatePairs): prefix filtering (AllPairs/PPJoin — equi-join on
  *    each doc's rarest-token prefix, positional prune, block predicate
  *    riding the join) when the vocabulary is Zipfian, a size-ratio-
  *    pruned block join when it is degenerate; both exact;
  *  - MinHash-LSH = band-signature equi-join producing candidates, exact
  *    verify after; candidate count is controlled by (rows/band, bands);
  *  - SimHash = 16-bit signature; candidates by pigeonhole-LSH on the
  *    signature's 4 nibbles (hamming <= 3 implies at least one of 4
  *    disjoint bands is equal), exact hamming verify after — identical
  *    output to the all-pairs form the oracle runs, bounded pairs;
  *  - verify stages attach per-doc sets to candidate pairs via SHUFFLE
  *    joins on hash-encoded (60-bit) token codes — never a corpus-size
  *    broadcast (the set table is terabytes at 100 TB, and long codes
  *    keep the attach shuffle narrow);
  *  - ANN = brute-force cosine against a broadcast probe set, and an
  *    IVF-style variant that prunes candidates to the probe's coarse
  *    cluster (label) — the partition-pruning shape a real IVF index has.
  */
object Dedup extends QueryFamily {

  /** Spark-side H(expr) as a SQL fragment. */
  private def hs(e: String) =
    s"CAST(conv(substr(md5($e), 1, 15), 16, 10) AS BIGINT)"
  /** DuckDB-side H(expr). */
  private def hd(e: String) =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** DuckDB-side k-gram polynomial hash of a k-char string `g` — the sum
    * form of RollingKgramHash's definition, evaluated in HUGEINT so the
    * un-reduced sum (< 2^87 for k = 24) never overflows. The coefficient
    * constants come from RollingKgramHash.powers, the same computation
    * the Spark expression uses: one source of truth for both engines.
    */
  private def rollDuck(g: String, k: Int): String = {
    val pw = graft.functions.RollingKgramHash.powers(k)
    val terms = (0 until k).map(j =>
      s"(CAST(unicode(substr($g, ${j + 1}, 1)) AS HUGEINT) + 1) * ${pw(j)}")
      .mkString(" + ")
    s"CAST(($terms) % ${graft.functions.RollingKgramHash.M} AS BIGINT)"
  }

  /** Distinct token set of `text`, hash-encoded to sorted 60-bit codes.
    * H is injective on any real vocabulary with overwhelming probability
    * (~1e-9 collision odds at a 10^5 vocab; the hash gate would catch
    * one), so set intersections — and therefore Jaccard — are identical
    * to the string formulation the oracle runs, while the verify-stage
    * shuffle moves arrays of longs instead of strings.
    */
  private def tokenCodes(s: SparkSession, dir: String) =
    Tables(s, dir, "documents").selectExpr("doc_id",
      s"array_sort(transform(array_distinct(split(text, ' ')), t -> ${hs("t")})) AS codes")

  /** One signature row per document — the near-dup identity of a doc
    * reduced to what candidate generation + verification need: block
    * keys (lang, length bucket), the distinct-token count for the
    * size-ratio prune, and the sorted 60-bit token codes for the exact
    * Jaccard check. This is the row a durable signature store persists
    * per ingested doc ([[graft.sync.DedupGate]]): a few hundred bytes
    * instead of the text, which is what makes probing a 100 TB lake's
    * history affordable.
    */
  private[graft] def signatures(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", "lang", "n_chars DIV 50 AS bucket",
      "size(array_distinct(split(text, ' '))) AS sz",
      s"array_sort(transform(array_distinct(split(text, ' ')), t -> ${hs("t")})) AS codes")

  /** The candidate-generation projection of `signatures` (block keys +
    * distinct-token count, no codes) — ONE definition, because the
    * incremental, ingest, and one-shot paths must block identically or
    * they silently diverge from each other and the oracle.
    */
  private def docMeta(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", "lang", "n_chars DIV 50 AS bucket",
      "size(array_distinct(split(text, ' '))) AS sz")

  /** Sign-LSH bucket as a SQL chain (one bit per hyperplane, 2^planes
    * buckets) over [[graft.functions.LshBucket.positive]]; `elem(j)` renders
    * the engine's 1-based element access. Each plane is a left-assoc
    * +-1 add/subtract chain, so the DuckDB oracles evaluate the same
    * float sums `lsh_bucket` computes on the Spark side (the tests render
    * it in Spark SQL as `lsh_bucket`'s reference). The plane COUNT
    * is the LSH fan-out knob: a corpus-scaled choice is planes ≈
    * log2(N / target-bucket-size) — bucket population, and with it
    * within-bucket pair volume, then stays constant as the corpus grows
    * instead of linear (pairs quadratic).
    */
  private[graft] def lshBucketExpr(elem: Int => String, planes: Int = 4): String = {
    require(planes >= 1 && planes <= LshBucket.MaxPlanes, s"bad planes=$planes")
    val bits = LshBucket.positive.take(planes).zipWithIndex.map { case (pos, b) =>
      val proj = pos.zipWithIndex.map { case (p, j) =>
        (if (p) " + " else " - ") + elem(j + 1)
      }.mkString
      s"(CASE WHEN (CAST(0.0 AS DOUBLE)$proj) > 0 THEN ${1 << b} ELSE 0 END)"
    }
    bits.mkString("(", " + ", ")")
  }

  /** SimHash signatures of width `bits` over `d(doc_id, lang, toks)`:
    * bit b is the per-token majority vote of bit b of a 60-bit md5 hash
    * of the token — each token hashed ONCE per 60 signature bits (never
    * once per (token, bit)), wider signatures drawing extra bits from a
    * salted second hash. Bit b is identical at every width (prefix
    * property), so the fixture-width signature is the prefix of the
    * corpus-scaled one. Width is the simhash fan-out knob: with disjoint
    * bands of w = bits/bands bits, candidate buckets number 2^w per
    * (lang, band) — corpus-scaled w keeps bucket population (and pair
    * volume) constant as the corpus grows, where a compile-time 16-bit
    * signature pins 16 bucket values forever and pairs grow ~N²/16.
    */
  private[graft] def simhashSignatures(d: DataFrame, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bad simhash bits=$bits")
    val nh = (bits + 59) / 60 // 60-bit hashes needed to cover the width
    val withHashes = (0 until nh).foldLeft(d) { (df, k) =>
      val salt = if (k == 0) "#s" else s"#s$k"
      df.withColumn(s"th$k",
        expr(s"transform(toks, t -> ${hs(s"concat(t, '$salt')")})"))
    }
    // shiftleft at runtime: bit 63's 1L<<63 has no positive SQL literal
    val bitsExpr = (0 until bits).map { b =>
      val k = b / 60; val off = b % 60
      s"(CASE WHEN 2 * size(filter(th$k, h -> (shiftright(h, $off) & 1) = 1)) > size(th$k) " +
        s"THEN shiftleft(CAST(1 AS BIGINT), $b) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    withHashes.selectExpr("doc_id", "lang", s"CAST($bitsExpr AS BIGINT) AS simhash")
  }

  /** Exactly-once candidate pairs from pigeonhole-LSH over `bands`
    * disjoint bands of the signature: a pair differing in fewer than
    * `bands` bits must agree on at least one whole band, so an equi-join
    * on (lang, band, band-value) finds every pair within hamming
    * distance bands-1 — never a lang-only self-join (quadratic within
    * each language). A pair meets in EVERY agreeing band (<= bands
    * copies); only the first agreeing band's copy survives — exactly
    * once by construction, no distinct() shuffle over the (dense)
    * matches. Output: (doc_a, doc_b, sim_a, sim_b), hamming left to the
    * caller (whose threshold decides how many bands exact recall needs:
    * bands >= hamMax + 1).
    */
  private[graft] def simhashCandidates(sig: DataFrame, bits: Int, bands: Int): DataFrame = {
    require(bands >= 1 && bits % bands == 0,
      s"bands=$bands must divide bits=$bits into equal-width bands")
    val w = bits / bands
    val mask = (1L << w) - 1
    val banded = sig.select(col("doc_id"), col("lang"), col("simhash"),
        explode(array((0 until bands).map(lit): _*)).as("band"))
      .withColumn("bv", expr(s"shiftright(simhash, band * $w) & ${mask}L"))
    val joined = banded.as("x").join(banded.as("y"),
        col("x.lang") === col("y.lang") && col("x.band") === col("y.band") &&
        col("x.bv") === col("y.bv") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b"),
        col("x.band").as("band"))
    // bands == 1: a pair meets at most once, no first-agreeing-band
    // filter needed (and the CASE below would have zero WHEN arms)
    val once = if (bands == 1) joined else {
      val firstBand = (0 until bands - 1).map(i =>
        s"WHEN ((sim_a ^ sim_b) & ${mask << (i * w)}L) = 0 THEN $i")
        .mkString("CASE ", " ", s" ELSE ${bands - 1} END")
      joined.where(col("band") === expr(firstBand))
    }
    once.select("doc_a", "doc_b", "sim_a", "sim_b")
  }

  /** SimHash near-dup pairs (hamming <= 3 within a language) at
    * signature width `bits` over `bands` pigeonhole bands:
    * (doc_a, doc_b, sim_a, hamming), sorted. */
  private def simhashPairs(s: SparkSession, dir: String, bits: Int, bands: Int): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("lang"),
      array_distinct(split(col("text"), " ")).as("toks"))
    simhashCandidates(simhashSignatures(d, bits), bits, bands)
      .withColumn("hamming", expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
      .where(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** (doc_id, lang, toks): each document's sorted distinct token set —
    * the MinHash input. */
  private def sortedToks(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"), col("lang"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))

  /** Exactly-once MinHash-LSH candidate pairs over `d(doc_id, lang,
    * toks)`: `perms`-hash signature (one md5 per token, MinHashSig),
    * split into `bands` disjoint bands of perms/bands rows each, pairs
    * from an equi-join on (band, band-key). Each row carries ALL band
    * keys, so a pair meeting in several bands is emitted ONLY from its
    * first agreeing band — exactly-once by construction, no distinct()
    * shuffle over the candidate pairs.
    */
  private[graft] def minhashCandidates(d: DataFrame, perms: Int, bands: Int): DataFrame = {
    graft.functions.MinHashSig.register(d.sparkSession)
    val rows = perms / bands
    // one md5 per token for the whole signature (custom expr)
    val sig = d.withColumn("mh", expr(s"minhash_sig(toks, $perms)"))
    val bandKey = (b: Int) => concat_ws(":", col("lang") +:
      (1 to rows).map(j => element_at(col("mh"), b * rows + j)): _*)
    val banded = sig
      .withColumn("keys", array((0 until bands).map(bandKey): _*))
      .select(col("doc_id"), col("keys"),
        posexplode(col("keys")).as(Seq("b", "k")))
    // no EARLIER band agrees, as a static CASE over the band index with
    // plain element_at string comparisons — evaluated once per banded
    // MATCH, which on a self-similar corpus is the hot count, so it must
    // stay inside whole-stage codegen (a zip_with/exists lambda here,
    // interpreted per match, measured 2.3x slower end to end)
    val noEarlierAgrees = (1 until bands).foldLeft(
      when(col("x.b") === 0, lit(true))) { (acc, b) =>
      acc.when(col("x.b") === b,
        (1 to b).map(i => element_at(col("x.keys"), i) =!= element_at(col("y.keys"), i))
          .reduce(_ && _))
    }.otherwise(lit(false))
    banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.k") === col("y.k") &&
        col("x.doc_id") < col("y.doc_id") && noEarlierAgrees)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
  }

  /** Embedding near-dup pairs with cosine >= 0.3 over [[vectors]]:
    * self-join within (label, sign-LSH bucket of `planes` hyperplanes),
    * cosine computed once per surviving pair, rounded for presentation.
    * Within-block pair volume is N²/(labels · 2^planes) for a balanced
    * corpus — `planes` is the knob that keeps it linear when scaled with
    * log2(N).
    */
  private def cosinePairs(s: SparkSession, dir: String, planes: Int): DataFrame = {
    val b = vectors(s, dir)
      .withColumn("bucket", expr(s"lsh_bucket(v, $planes)"))
    b.as("a").join(b.as("b"),
        col("a.label") === col("b.label") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (expr("vec_dot(a.v, b.v)") / (col("a.norm") * col("b.norm"))).as("cos"))
      .where(col("cos") >= 0.3)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Prefix-filtered candidate pairs (AllPairs/PPJoin) for Jaccard >=
    * num/den — the exact, near-linear replacement for the blocked
    * self-join whose within-block pair count grows quadratically with the
    * corpus. Tokens get a global total order "rarest first" (document
    * frequency asc, code asc — injective because codes are); a doc's
    * PREFIX is its first p = sz - ceil(t*sz) + 1 tokens in that order.
    * Prefix-filter lemma (Chaudhuri/Bayardo/Xiao): if J(a,b) >= t, the
    * pair's smallest common token (in the global order) sits inside BOTH
    * prefixes — were it outside a's prefix, a would have at most
    * ceil(t*sz_a) - 1 < t*sz_a <= |a∩b| tokens at-or-after it, yet every
    * common token is. So an equi-join on exploded prefix tokens finds
    * every qualifying pair, and candidate volume tracks how often RARE
    * tokens co-occur — near-linear in the corpus — instead of block^2.
    * Two further exact prunes before the pair shuffle:
    *  - positional: a copy matched at 0-based prefix positions (ia, ib)
    *    can only be the minimal-common-token copy of a qualifying pair if
    *    min(sz_a - ia, sz_b - ib) >= alpha, the overlap J >= t forces:
    *    alpha = ceil(num*(sz_a+sz_b) / (num+den))  [t/(1+t)*(|a|+|b|)];
    *  - block semantics: the query families define pairs WITHIN
    *    (lang, length-bucket) blocks, so block equality rides the join.
    * All thresholds are INTEGER arithmetic on the rational t = num/den —
    * ceil(t*sz) as (num*sz + den - 1) DIV den — because double ceil(0.8*5)
    * = ceil(4.000000000000001) = 5 silently shortens the prefix and drops
    * true pairs. Duplicate copies (a pair can share several prefix
    * tokens) collapse via groupBy over 16-byte id pairs — a narrow
    * shuffle over the already-pruned candidate set; carrying each side's
    * prefix array through the join to filter "first agreeing token"
    * instead would multiply join payload by p for the same result. The
    * joins are pinned shuffle_hash: df/meta/prefix tables are corpus-size
    * at 100 TB (never broadcastable), and fixture-size AQE broadcasts
    * would make PlanSpec's no-corpus-broadcast assertions lie.
    */
  private[graft] def prefixCandidates(enc: DataFrame, meta: DataFrame,
      num: Int, den: Int): DataFrame = {
    val tok = enc.select(col("doc_id"), explode(col("codes")).as("code"))
    val dfreq = tok.groupBy("code").agg(count(lit(1)).as("df"))
    val ordered = tok.join(dfreq.hint("shuffle_hash"), "code")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("code")))).as("ord"),
        count(lit(1)).as("sz"))
      .join(meta.drop("sz").hint("shuffle_hash"), "doc_id")
    prefixJoin(ordered, "code", Seq("lang", "bucket"),
      col("sz") - expr(s"($num * sz + ${den - 1}) DIV $den") + 1,
      expr(s"($num * (sza + szb) + ${num + den - 1}) DIV ${num + den}"))
  }

  /** The PPJoin core both prefix-filtered generators share: over
    * `ordered` rows (doc_id, sz, ord, blocks…) — `ord` the doc's tokens
    * as structs sorted rarest-first, field `tok` the token — slice each
    * doc's first `p` tokens (docs with p < 1 post nothing), posexplode
    * them with their 0-based positions, self-join on (blocks, token),
    * keep copies passing the positional bound min(sza-ia, szb-ib) >=
    * `bound`, and collapse the copies a pair shares to one (doc_a,
    * doc_b) with doc_a < doc_b. The self-join is pinned shuffle_hash:
    * the prefix table is corpus-size at 100 TB.
    */
  private def prefixJoin(ordered: DataFrame, tok: String, blocks: Seq[String],
      p: Column, bound: Column): DataFrame = {
    val keep = Seq("doc_id", "sz") ++ blocks
    val prefix = ordered.withColumn("p", p).where(col("p") >= 1)
      .select(keep.map(col) :+
        posexplode(expr("slice(ord, 1, CAST(p AS INT))")).as(Seq("pos", "pc")): _*)
      .select(keep.map(col) ++ Seq(col("pos"), col(s"pc.$tok").as(tok)): _*)
    def side(id: String, sz: String, i: String) = prefix.select(
      Seq(col("doc_id").as(id), col("sz").as(sz), col("pos").as(i), col(tok)) ++
        blocks.map(col): _*)
    side("doc_a", "sza", "ia").join(side("doc_b", "szb", "ib").hint("shuffle_hash"),
        blocks :+ tok)
      .where(col("doc_a") < col("doc_b") &&
        least(col("sza") - col("ia"), col("szb") - col("ib")) >= bound)
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .select("doc_a", "doc_b")
  }

  /** Approximate corpus size (HLL `approx_count_distinct` over the id
    * column) — the O(1)-row statistics job behind every `auto` fan-out
    * knob, memoized per (context, name, dir) in [[graft.Artifacts]]:
    * run once per corpus, and again only when the files under `dir`
    * change.
    */
  private[graft] def approxCorpusCount(d: DataFrame, idCol: String,
      name: String, dir: String): Long =
    graft.Artifacts.get(d.sparkSession.sparkContext, s"dedup.corpusCount.$name", dir)(
      d.agg(approx_count_distinct(col(idCol))).head().getLong(0))

  /** Fan-out width for a corpus of ~n rows and a target LSH bucket
    * population: ceil(log2(n / target)) clamped to [floor, cap] — 2^w
    * buckets keep expected bucket population (and with it within-bucket
    * pair volume) ~constant as the corpus grows. `floor` is the fixture
    * width, so on small corpora `auto` resolves to exactly the declared
    * oracle-pinned parameters; HLL error (~2%) moves the width by at
    * most one step at a power-of-two boundary, which costs time, never
    * rows (every fan-out is output-correct — the prefix property).
    */
  private[graft] def autoWidth(n: Long, target: Long, floor: Int, cap: Int): Int = {
    require(target > 0 && floor >= 1 && cap >= floor, s"bad auto knob: $target/$floor/$cap")
    val buckets = math.max(1L, n / target)
    val w = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, buckets - 1))
    math.min(cap, math.max(floor, w))
  }

  /** The target LSH bucket population every `auto` fan-out aims for. */
  private val TargetBucket = 64L

  /** Resolve a fan-out conf knob: unset → the declared fixture value
    * (oracle-pinned); an integer → pinned explicitly; `auto` → derived
    * from the memoized approximate corpus count via [[autoWidth]] — the
    * scale-safe default an operator can set fleet-wide without knowing
    * each corpus's size.
    */
  private def resolveFanout(s: SparkSession, confKey: String, fixture: Int,
      cap: Int, name: String, dir: String)(corpus: => (DataFrame, String)): Int =
    s.conf.getOption(confKey) match {
      case None => fixture
      case Some("auto") =>
        val (d, idCol) = corpus
        autoWidth(approxCorpusCount(d, idCol, name, dir), TargetBucket, fixture, cap)
      case Some(v) => v.toInt
    }

  /** Exact in-block Jaccard candidate pairs, generator chosen by corpus
    * shape. Neither generator dominates:
    *  - PREFIX path (prefixCandidates): near-linear candidates on a
    *    Zipfian vocabulary — the 100 TB text-corpus reality, where each
    *    doc's rarest tokens are near-unique and the length-blocked join's
    *    within-block population (linear in the corpus) makes block^2
    *    pairs the scale-killer;
    *  - BLOCKED path with an exact size-ratio prune riding the join:
    *    J(a,b) >= num/den forces den*min(sz) >= num*max(sz), a scalar
    *    conjunct that strictly subsets the block pairs with no extra
    *    shuffle. On a DEGENERATE vocabulary (the synthetic fixture: 31
    *    words, 377 trigrams, so "rare" tokens have df in the thousands
    *    and every pair shares prefix tokens) the prefix join's raw
    *    multiplicity (22x the blocked volume at sf0.1, measured) loses
    *    to simply enumerating the block — and most blocked pairs are
    *    TRUE matches there, so no exact generator can prune much anyway.
    * The choice reads two O(1)-row statistics jobs, memoized per
    * (context, name, dir) in [[graft.Artifacts]] — recomputed only when
    * the files under `dir` change: prefix wins when
    * vocab > pbar^2 * nblocks — expected prefix-join pairs
    * ~(ndocs*pbar)^2/(2*vocab) vs blocked pairs ~ndocs^2/(2*nblocks).
    * HLL estimates suffice: a wrong choice costs time, never rows —
    * both generators are exact supersets of the qualifying pairs. The
    * blocked path is [[incrementalCandidates]] with the whole corpus as
    * its delta.
    */
  private[graft] def candidatePairs(enc: DataFrame, meta: DataFrame,
      num: Int, den: Int, name: String, dir: String): DataFrame = {
    val usePrefix = graft.Artifacts.get(enc.sparkSession.sparkContext,
        s"dedup.candidateGen.$name", dir) {
      val m = meta.agg(
        avg(expr(s"sz - (($num * CAST(sz AS BIGINT) + ${den - 1}) DIV $den) + 1")),
        approx_count_distinct(concat_ws(":", col("lang"), col("bucket")))).head()
      // empty corpus: avg over zero rows is null — either generator
      // emits zero pairs; take the blocked path without the vocab job
      !m.isNullAt(0) && {
        val pbar = m.getDouble(0)
        val nblocks = m.getLong(1)
        val vocab = enc.select(explode(col("codes")).as("code"))
          .agg(approx_count_distinct(col("code"))).head().getLong(0)
        vocab.toDouble > pbar * pbar * nblocks
      }
    }
    if (usePrefix) prefixCandidates(enc, meta, num, den)
    else incrementalCandidates(meta, meta, num, den)
  }

  /** Candidate pairs for INCREMENTAL dedup: a new batch (`delta`) arriving
    * against the full corpus (`all`, which includes the delta). Joins the
    * delta against the corpus inside (lang, bucket) blocks with the exact
    * size-ratio prune riding the join — the corpus never self-joins, so
    * candidate volume is |delta| x blockmates instead of the full
    * generator's |corpus| x blockmates. That is the nightly-ingest shape
    * at 100 TB: the lake is deduped once, and each day only the delta is
    * signatured and probed (shuffle moves one row per doc on both sides;
    * the corpus side is read, never paired with itself).
    *
    * REQUIRES delta ids to be an id-suffix (every new id > every old id —
    * the natural append-only assignment). Then `doc_a < doc_b` alone
    * emits each qualifying pair exactly once: old-new pairs order
    * old<new by assumption, new-new pairs order by id, old-old pairs
    * cannot satisfy it (the right side is delta-only) — no distinct()
    * shuffle over the match stream. An arbitrary (non-suffix) delta
    * would need least/greatest canonicalization plus a distinct over
    * the delta-delta matches.
    */
  private[graft] def incrementalCandidates(delta: DataFrame, all: DataFrame,
      num: Int, den: Int): DataFrame = {
    val c = all.select(col("doc_id").as("doc_a"), col("lang").as("la"),
      col("bucket").as("ba"), col("sz").as("sza"))
    val n = delta.select(col("doc_id").as("doc_b"), col("lang").as("lb"),
      col("bucket").as("bb"), col("sz").as("szb"))
    // both sides are one-row-per-doc (the left is corpus-size at 100 TB):
    // pin the shuffle join AQE's fixture-size broadcast would replace
    c.join(n.hint("shuffle_hash"),
        col("la") === col("lb") && col("ba") === col("bb") &&
        col("doc_a") < col("doc_b") &&
        col("sza") * den >= col("szb") * num &&
        col("szb") * den >= col("sza") * num)
      .select("doc_a", "doc_b")
  }

  /** Dedup-on-ingest: feed the corpus through `k` sequential id-suffix
    * batches (batch i = the i-th slice of the id range, standing in for
    * night i's append-only ingest) and apply first-copy-wins against a
    * GROW-ONLY signature store: a document is dropped iff some document
    * seen in an earlier batch — or earlier in its own batch — is a
    * near-dup (Jaccard >= thresh) of it. Dropped documents STAY in the
    * signature store (their (lang, bucket, sz) row keeps probing future
    * batches), which is what makes the policy batching-invariant: the
    * union of per-batch delta edges telescopes to exactly the full
    * corpus edge set, so the survivor set equals the one-shot batch
    * answer for every k — including k=1 (IngestFoldSpec pins this; the
    * oracle pins k=4 against the one-shot SQL). At 100 TB each fold
    * iteration is one nightly run: signature the delta, probe it against
    * the store with [[incrementalCandidates]] (the store never
    * self-joins), append the delta's signatures.
    */
  private[graft] def ingestSurvivors(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    graft.functions.SortedJaccardGe.register(s)
    val docs = Tables(s, dir, "documents")
    // O(1)-row statistics job for the fixture batch boundaries; a real
    // ingest knows its batch membership (yesterday's files)
    val b = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = hi - lo + 1
    def cut(i: Int): Long = lo - 1 + span * i / k
    val meta = docMeta(docs)
    // 4 verify passes x 2 attach legs each read the encode pass
    // unpinned (see q_dedup_near)
    val enc = tokenCodes(s, dir)
    val dropped = (1 to k).map { i =>
      val delta = meta.where(col("doc_id") > cut(i - 1) && col("doc_id") <= cut(i))
      val store = meta.where(col("doc_id") <= cut(i))
      jaccardVerifyUnordered(incrementalCandidates(delta, store, 4, 5), enc, 0.8)
        .select(col("doc_b").as("doc_id"))
    }.reduce(_ unionAll _).distinct()
    // anti-join survivors; the dropped side is corpus-scale at 100 TB
    // (every shed duplicate), so pin the shuffle join here too
    docs.select("doc_id").join(dropped.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  // Postings-ordered signature table — (doc_id, lang, ord, sz) with
  // `ord` the doc's distinct tokens as (df, t) structs sorted
  // rarest-first — MEMOIZED per (session, dir) in graft.Artifacts and
  // pinned (localCheckpoint via passPinner): containment plus both graph
  // edge tiers all start from it, and its two shuffles (df count, per-doc
  // fold) are layout work that must run once, not once per caller.
  // Everything the generators need derives from it without touching the
  // corpus again: the full postings explode its arrays, the token
  // arrays re-sort them lexically.
  private def rarestOrdered(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.get(s, "dedup.postings", dir) {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(split(col("text"), " "))).as("t"))
      val dfreq = tok.groupBy("lang", "t").agg(count(lit(1)).as("df"))
      passPinner(s)(tok.join(dfreq.hint("shuffle_hash"), Seq("lang", "t"))
        .groupBy("doc_id", "lang")
        .agg(array_sort(collect_list(struct(col("df"), col("t")))).as("ord"),
          count(lit(1)).as("sz")))
    }

  /** Same-lang doc pairs with distinct-sorted token arrays attached —
    * the SHARED candidate construction for the whole-token-set metrics
    * (containment here, the similarity graph in GraphOps). Candidates
    * come from the rare-token INVERTED INDEX (the postings the search
    * family also builds), never a corpus-wide join or broadcast, so the
    * generator survives 100 TB: every join is a pinned shuffle join on
    * one-row-per-doc or one-row-per-posting tables.
    *
    * Both generators index the same rarest-first total order — each
    * doc's distinct tokens sorted by (same-lang document frequency,
    * token), the PPJoin ordering — and both are EXACT supersets of the
    * qualifying pairs:
    *  - `ordered=false` (asymmetric — containment): db must contain
    *    da's single RAREST token (any superset of A's token set
    *    contains A's rarest member), so da posts its rank-1 token and
    *    joins the full postings list; O(df(rarest)) candidates per doc,
    *    each (da, db) emitted at most once (one posting per da, db
    *    holds a distinct token at most once) — no dedup shuffle.
    *  - `ordered=true` (symmetric — >= `minShared` common tokens):
    *    prefix filtering — if |A∩B| >= k their rarest-first prefixes of
    *    length sz-k+1 must intersect (were every common token outside
    *    A's prefix, at most k-1 of A's tokens could be common), so each
    *    side posts only its prefix; the PPJoin positional bound
    *    min(sza-ia, szb-ib) >= k (an upper bound on |A∩B| at the first
    *    collision) rides the join, and docs with sz < k never post.
    * The exact verify stays downstream with the consumer; token arrays
    * attach to the surviving id pairs via shuffle joins (the per-doc
    * token table is terabytes at 100 TB — the hints pin the plan AQE
    * would flip to broadcast at fixture size). `ordered=true` keeps
    * da<db (symmetric metrics); false keeps all da≠db pairs
    * (asymmetric). Columns: (da, db, ta, tb).
    * RareTokenCandidatesSpec pins pair-set equality against the naive
    * lang-block join on the fixtures and the no-broadcast plan shape.
    */
  private[graft] def langBlockedTokenPairs(
      s: SparkSession, dir: String, ordered: Boolean,
      minShared: Int = 1): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val ord = rarestOrdered(s, dir)
    val tok = ord.select(col("doc_id"), col("lang"), col("sz"),
      explode(expr("transform(ord, x -> x.t)")).as("t"))
    val d = ord.select(col("doc_id"), col("lang"),
      expr("array_sort(transform(ord, x -> x.t))").as("toks"))
    val pairs =
      if (!ordered) {
        // size prune riding the candidate join (r20): the asymmetric
        // consumer checks A ⊆ B, which REQUIRES |A| <= |B| — so pairs
        // with sza > szb can be dropped before the two array-attach
        // shuffles and the per-pair sorted-merge intersect ever see
        // them. Exact: sorted_intersect_size(ta,tb) == size(ta) is
        // unsatisfiable when size(ta) > size(tb) (sz IS the distinct
        // count rarestOrdered grouped). sza==szb stays: equal sets
        // contain each other.
        val a = ord.select(col("doc_id").as("da"), col("lang"),
          col("sz").as("sza"), expr("ord[0].t").as("t"))
        val b = tok.select(col("doc_id").as("db"), col("lang"),
          col("sz").as("szb"), col("t"))
        a.join(b.hint("shuffle_hash"), Seq("lang", "t"))
          .where(col("da") =!= col("db") && col("sza") <= col("szb"))
          .select("da", "db")
      } else prefixJoin(ord, "t", Seq("lang"), col("sz") - lit(minShared) + 1,
          lit(minShared))
        .select(col("doc_a").as("da"), col("doc_b").as("db"))
    val ta = d.select(col("doc_id").as("da"), col("toks").as("ta"))
    val tb = d.select(col("doc_id").as("db"), col("toks").as("tb"))
    pairs.join(ta.hint("shuffle_hash"), "da")
      .join(tb.hint("shuffle_hash"), "db")
      .select("da", "db", "ta", "tb")
  }

  /** Convergence bit from an Observation attached to an EAGERLY pinned
    * pass: localCheckpoint/checkpoint runs through Dataset.withAction, so
    * the CollectMetrics result is published to the listener bus by the
    * time the pin returns — but the callback is asynchronous, so poll
    * briefly. None = metric not delivered in time (caller falls back to
    * a probe job). */
  private def convergedVia(
      obs: org.apache.spark.sql.Observation): Option[Boolean] =
    try {
      val row = scala.concurrent.Await.result(
        obs.future, scala.concurrent.duration.Duration(2, "seconds"))
      Some(row.getAs[Long]("n_changed") == 0L)
    } catch { case _: java.util.concurrent.TimeoutException => None }

  /** Checkpoint strategy for every pinned artifact (the CC loop's
    * passes, postings, near-dup edges, trained codebooks and centroids).
    * localCheckpoint (the default) pins blocks in EXECUTOR memory/disk —
    * fast, but non-reliable: the truncated lineage is not recomputable,
    * so at 100 TB one executor loss mid-loop kills the whole job. Setting
    * spark.graft.cluster.reliableCheckpoint=true switches every pin to
    * a reliable checkpoint() under the SparkContext checkpoint dir —
    * on a real cluster point that at HDFS/S3; for single-JVM runs a
    * scratch dir is provisioned (deleted when the context stops) if none
    * is set. Costs one round-trip write per pin, buys executor-loss
    * survival.
    */
  private[operators] def passPinner(s: SparkSession): DataFrame => DataFrame = {
    val reliable = s.conf.getOption("spark.graft.cluster.reliableCheckpoint")
      .exists(_.toBoolean)
    if (!reliable) df => df.localCheckpoint()
    else {
      if (s.sparkContext.getCheckpointDir.isEmpty) {
        s.sparkContext.setCheckpointDir(graft.Artifacts.root(s, "ckpt"))
      }
      df => df.checkpoint()
    }
  }

  /** The q_dedup_near pair set as bare (doc_a, doc_b) edges — shared by
    * q_dedup_cluster (edge input), q_dedup_retention (dominance input)
    * and q_dedup_recall (ground truth). Same candidates, same fused
    * threshold check; here the Jaccard value is discarded, so the
    * predicate sits alone in a filter (no projection for CollapseProject
    * to re-inline it into) and runs once per pair.
    *
    * MEMOIZED per (session, dir) in graft.Artifacts and pinned, like the
    * postings table it feeds from (r14 verdict: the three consumers each re-ran
    * the full candidates+verify pipeline, ~2s apiece at sf0.01 — and at
    * 100 TB the near-dup edge set is exactly the artifact you
    * materialize once and share).
    */
  private def nearDupEdges(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.get(s, "dedup.nearEdges", dir) {
      graft.functions.SortedJaccardGe.register(s)
      val meta = docMeta(Tables(s, dir, "documents"))
      val enc = tokenCodes(s, dir)
      val pairs = candidatePairs(enc, meta, 4, 5, "near", dir)
      val ca = enc.select(col("doc_id").as("doc_a"), col("codes").as("ca"))
      val cb = enc.select(col("doc_id").as("doc_b"), col("codes").as("cb"))
      passPinner(s)(pairs.join(ca.hint("shuffle_hash"), "doc_a")
        .join(cb.hint("shuffle_hash"), "doc_b")
        .where(expr("sorted_jaccard_ge(ca, cb, 0.8D)").isNotNull)
        .select(col("doc_a"), col("doc_b")))
    }

  // ---- ANN probe ranking, shared by every q_sim_* key: probes are the
  // vectors with vec_id < 10, candidates the rest, and the (small) probe
  // side broadcasts against the candidates. ----

  /** (vec_id, label, v, norm): the embedding corpus as DOUBLE vectors
    * with their L2 norms — the one vector load of the cosine kernels
    * (registers vec_dot and lsh_bucket). */
  private def vectors(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VecDot.register(s)
    LshBucket.register(s)
    Tables(s, dir, "embeddings").select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("norm", norm("v"))
  }

  /** L2 norm of DOUBLE-vector column `v`. */
  private def norm(v: String): Column = expr(s"sqrt(vec_dot($v, $v))")

  /** Cosine of probe vector `p` and candidate vector `c` from their
    * norms, rounded to the sim family's 4-dp score grid. */
  private def cosine(p: String, c: String, pn: String, cn: String): Column =
    round(expr(s"vec_dot($p, $c)") / (col(pn) * col(cn)), 4)

  /** A probe's candidates ordered by `by`, ties on candidate id `id`. */
  private def perProbe(by: Column, id: String = "neighbor_id") =
    Window.partitionBy("probe_id").orderBy(by, col(id))

  /** The top-k tail every ANN key ends in: rank each probe's candidates
    * by `by` (score descending for cosine, `adc_dist` ascending for
    * ADC; ties on `id`), keep the first `k`, and emit (probe_id, rank
    * BIGINT, neighbor_id, `value`) — sorted by (probe_id, rank) unless
    * the caller keeps composing.
    */
  private def topK(scored: DataFrame, k: Int, by: Column, value: String,
      id: String = "neighbor_id", sorted: Boolean = true): DataFrame = {
    val top = scored.withColumn("rank", row_number().over(perProbe(by, id)))
      .where(col("rank") <= k)
      .select(col("probe_id"), big(col("rank")).as("rank"),
        if (id == "neighbor_id") col(id) else col(id).as("neighbor_id"), col(value))
    if (sorted) top.orderBy("probe_id", "rank") else top
  }

  /** Every (candidate, probe) pair with its exact cosine `score` — one
    * broadcast cross join: q_sim_topk's input and the recall keys'
    * ground truth. */
  private def exactScores(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val probes = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pnorm"))
    e.where(col("vec_id") >= 10)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("norm").as("cnorm"))
      .crossJoin(broadcast(probes))
      .withColumn("score", cosine("pv", "cv", "pnorm", "cnorm"))
  }

  /** The exact cosine top-5 as (probe_id, neighbor_id) — what the PQ
    * recall keys grade each approximate path against. */
  private def exactTopK(s: SparkSession, dir: String): DataFrame =
    exactScores(s, dir)
      .withColumn("rnk", row_number().over(perProbe(col("score").desc)))
      .where(col("rnk") <= 5)
      .select("probe_id", "neighbor_id")

  /** Per-probe recall of `exact` (probe_id, neighbor_id) against each
    * graded (flag, output, set): every set left-joins as a 1L `flag`
    * column, then one row per probe with n_exact and each set's hit
    * count under its output name. */
  private def gradeHits(exact: DataFrame,
      graded: (String, String, DataFrame)*): DataFrame = {
    val keys = Seq("probe_id", "neighbor_id")
    graded.foldLeft(exact) { case (acc, (flag, _, set)) =>
      acc.join(set.select(col("probe_id"), col("neighbor_id"), lit(1L).as(flag)),
        keys, "left")
    }.groupBy("probe_id")
      .agg(count(lit(1)).as("n_exact"), graded.map { case (flag, out, _) =>
        sum(coalesce(col(flag), lit(0L))).as(out) }: _*)
      .orderBy("probe_id")
  }

  /** Each probe's `nprobe` nearest coarse centroids as struct `pc` (d,
    * k`fields`) beside probe_id, from the k-means assignment `av` and
    * centroid row `cents` (TextOps.kmeansAssign / kmeansCentroidRow) —
    * integer squared distances, (d, k) order, the centroid row
    * broadcast. `fields` adds struct members computed per centroid `c`.
    */
  private def nearestCentroids(av: DataFrame, cents: DataFrame, nprobe: Int,
      fields: String = ""): DataFrame =
    av.where(col("vec_id") < 10)
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("probe_id"), explode(expr(
        s"slice(array_sort(transform(cents, c -> struct(" +
          s"${TextOps.intSqd("fx", "c.cv")} AS d, c.k AS k$fields))), 1, $nprobe)")).as("pc"))

  // ---- Product-quantization plumbing, shared by q_sim_pq (sample
  // codebook), q_sim_pq_trained (subspace-wise Lloyd's codebook) and
  // q_sim_recall_pq (both graded against the exact top-5). ----

  /** (vec_id, s, sv): the fixed-point corpus split into 8 8-dim
    * subvectors, one row per (vector, subspace). */
  private def pqSubvectors(s: SparkSession, dir: String): DataFrame =
    TextOps.fixedPointVectors(s, dir).select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), s -> " +
          "struct(s AS s, slice(fx, s * 8 + 1, 8) AS sv))")).as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sv").as("sv"))

  /** The ksub-centroid-per-subspace codebook (s, k, cent), 16 (4-bit
    * codes) unless a caller asks for more. trained=false: the first ksub
    * candidate subvectors as-is (training-free sample quantizer).
    * trained=true: those seeds refined by one exact-integer
    * Lloyd's round over the candidate corpus — the same assign/update
    * shape as TextOps.kmeansAssign, run subspace-wise so each 8-dim
    * quantizer trains on its own slice (Jegou PQ's actual trainer).
    * Empty clusters keep their seed centroid — a deterministic rule both
    * engines can state, instead of the usual re-seed-random. Scale: the
    * codebook is 8x16 rows (broadcast); assignment is map-side under it;
    * the update is one narrow (s, k, pos) shuffle — training never
    * collects a vector to the driver. `dir` is the corpus `sub` derives
    * from (it keys the memoized seed check).
    */
  private def pqCodebook(sub: DataFrame, dir: String, trained: Boolean,
      ksub: Int = 16): DataFrame = {
    val cb0 = sub.where(col("vec_id").between(10, 9 + ksub))
      .select(col("s"), (col("vec_id") - 10).as("k"), col("sv").as("cent"))
    // fail LOUDLY on a fixture too small to seed ksub centroids — the
    // ADC lookup strides s·ksub into the flattened distance table, so
    // a short codebook would otherwise surface as an out-of-range
    // element_at deep in the serve path (r18 advice). The check is an
    // eager driver-blocking Spark job, and pqCodebook is re-entered on
    // every serve of the UNTRAINED paths (Bench invokes each key 3x) —
    // so the VALIDATION (a per-(session, input-plan, ksub) fact about
    // the corpus, not a query result) memoizes — Unit-valued: it records
    // that a fail-loud check PASSED, never data; the first serve still
    // fails loudly on a short corpus (r19 ADVICE item 2).
    graft.Artifacts.get(sub.sparkSession,
        s"dedup.pqSeedCheck.${sub.queryExecution.analyzed.semanticHash()}.$ksub", dir) {
      val nSeed = cb0.select("k").distinct().count()
      require(nSeed == ksub,
        s"PQ codebook needs $ksub seed vectors (vec_id 10..${9 + ksub}); " +
          s"fixture seeds only $nSeed — candidate corpus too small")
    }
    if (!trained) cb0
    else {
      val tr = sub.where(col("vec_id") >= 10)
      // sv is constant per (vec_id, s) group, so first() carries it
      // through the argmin without a second join back to tr
      val asg = subspaceDists(tr, cb0)
        .groupBy("vec_id", "s")
        .agg(min(struct(col("d"), col("k"))).as("m"), first(col("sv")).as("sv"))
        .select(col("s"), col("m.k").as("k"), col("sv"))
      val upd = asg
        .select(col("s"), col("k"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("s", "k", "pos")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .withColumn("c", expr("CAST(floor(CAST(sx AS DOUBLE) / n + 0.5D) AS BIGINT)"))
        .groupBy("s", "k")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), " +
          "p -> p.c)").as("newc"))
      // the merge is codebook-sized (8x16 rows) at ANY corpus scale —
      // broadcast it rather than let the static plan sort-merge
      cb0.join(broadcast(upd), Seq("s", "k"), "left")
        .select(col("s"), col("k"), coalesce(col("newc"), col("cent")).as("cent"))
    }
  }

  // The ADC serve chain flat PQ and IVFADC share: subspace distances
  // to a broadcast codebook, per-candidate argmin codes, per-probe
  // distance tables, the 8-lookup ADC sum, and the top-5 tail.

  /** `rows` (…, s, sv) joined to every codeword of the broadcast
    * codebook `cb` (s, code, cent), with the exact integer squared
    * distance `d`. */
  private def subspaceDists(rows: DataFrame, cb: DataFrame): DataFrame =
    rows.join(broadcast(cb), "s").withColumn("d", expr(TextOps.intSqd("sv", "cent")))

  /** Per-candidate PQ codes from `dist`: the (d, code)-argmin codeword
    * per (vec_id, s), folded into one s-ordered `codes` array per
    * vector; `carry` columns (constant per vector) ride along. */
  private def pqCodes(dist: DataFrame, code: String, carry: String*): DataFrame = {
    def carried = carry.map(c => first(col(c)).as(c))
    val out = carried :+ expr(
      s"transform(array_sort(collect_list(struct(s, m.$code AS $code))), x -> x.$code)")
      .as("codes")
    dist.groupBy("vec_id", "s")
      .agg(min(struct(col("d"), col(code))).as("m"), carried: _*)
      .groupBy("vec_id")
      .agg(out.head, out.tail: _*)
  }

  /** One flattened (s, code)-ordered distance table `dta` per `by` group
    * of the probe rows in `dist`. */
  private def distTables(dist: DataFrame, code: String, by: Column*): DataFrame =
    dist.groupBy(by: _*).agg(expr(
      s"transform(array_sort(collect_list(struct(s, $code, d))), x -> x.d)").as("dta"))

  /** The ADC distance: 8 lookups into `dta`, subspace s strided by the
    * codebook size `ksub` — zero per-candidate vector math. */
  private def adcDist(ksub: Int): Column = expr(
    "aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, s) -> " +
      s"acc + element_at(dta, CAST(s * $ksub + " +
      "element_at(codes, CAST(s + 1 AS INT)) + 1 AS INT)))")

  /** The full ADC serving pipeline against either codebook →
    * (probe_id, rank, neighbor_id, adc_dist), top-5 per probe,
    * unordered (callers sort for presentation). Codebook and probe
    * distance tables both broadcast (PlanSpec-pinned). */
  private def pqAdcRanked(s: SparkSession, dir: String, trained: Boolean): DataFrame = {
    val sub = pqSubvectors(s, dir)
    // TRAINED codebooks are memoized + pinned per (session, dir, kind) —
    // each has two consumers (trained: q_sim_pq_trained + q_sim_recall_pq;
    // residual: q_sim_ivfpq + q_sim_recall_pq), and a Lloyd's round is the
    // expensive half of each query. 8×16 rows per pin; the sample codebook
    // is a bare filter and stays a live plan.
    val cb =
      if (!trained) pqCodebook(sub, dir, trained = false)
      else graft.Artifacts.get(s, "dedup.pqCodebook.trained", dir)(
        passPinner(s)(pqCodebook(sub, dir, trained = true)))
    val dist = subspaceDists(sub, cb)
    val codes = pqCodes(dist.where(col("vec_id") >= 10), "k")
    val dtv = distTables(dist.where(col("vec_id") < 10), "k", col("vec_id").as("probe_id"))
    topK(codes.crossJoin(broadcast(dtv)).withColumn("adc_dist", adcDist(16)),
      5, col("adc_dist"), "adc_dist", id = "vec_id", sorted = false)
  }

  /** IVFADC (FAISS's IVF+PQ production serving layout): PQ on RESIDUALS
    * within the trained coarse quantizer. Candidates are assigned to
    * their q_sim_ivf_trained centroid (the shared TextOps.kmeansAssign),
    * PQ-encode (vector − centroid) with the q_sim_pq_trained trainer run
    * on residual subvectors, and each probe searches its nprobe=2
    * nearest buckets with ADC over residuals — one distance table per
    * (probe, bucket) since the probe's residual differs per centroid.
    * The composition is pure reuse: pqCodebook on residual rows,
    * the kmeans centroid row for bucket selection, the same 8-lookup ADC.
    * Scale: centroids + residual codebook + probe tables all broadcast;
    * the candidate↔probe pairing is an EQUI-join on the coarse bucket
    * (the IVF prune — never a cross like flat PQ's serve), and raising K
    * bounds per-bucket work exactly as in q_sim_ivf_trained. A candidate
    * lives in exactly one bucket, so no pair dedups. All-integer
    * end to end: residuals are integer differences of fixed-point
    * values, so every distance is an exact integer with (d, id) ties.
    */
  private def ivfAdcRanked(s: SparkSession, dir: String,
      nprobe: Int = 2, ksub: Int = 16): DataFrame = {
    val av = TextOps.kmeansAssign(s, dir) // (vec_id, fx, k, d)
    val centRow = TextOps.kmeansCentroidRow(s, dir)
    val centTbl = centRow.select(explode(col("cents")).as("c"))
      .select(col("c.k").as("k"), col("c.cv").as("cv"))
    def subspaces(rcol: String) = expr(
      s"transform(sequence(0, 7), s -> struct(s AS s, slice($rcol, s * 8 + 1, 8) AS sv))")
    // candidate residuals, split into 8 subspaces
    val rsub = av.where(col("vec_id") >= 10)
      .join(broadcast(centTbl), "k")
      .select(col("vec_id"), col("k"),
        expr("zip_with(fx, cv, (a, b) -> a - b)").as("rfx"))
      .select(col("vec_id"), col("k"), explode(subspaces("rfx")).as("x"))
      .select(col("vec_id"), col("k"), col("x.s").as("s"), col("x.sv").as("sv"))
    // the residual codebook: the SAME subspace-wise Lloyd's trainer as
    // q_sim_pq_trained, fed residual rows (kc to keep the coarse k apart)
    val rcb = graft.Artifacts.get(s, s"dedup.pqCodebook.residual$ksub", dir)(
        passPinner(s)(pqCodebook(rsub.select("vec_id", "s", "sv"), dir,
          trained = true, ksub)))
      .withColumnRenamed("k", "kc")
    val codes = pqCodes(subspaceDists(rsub, rcb), "kc", "k")
    // probe side: nprobe=2 nearest coarse buckets, one residual distance
    // TABLE per (probe, bucket) — the probe's residual depends on the
    // bucket's own centroid
    val psub = nearestCentroids(av, centRow, nprobe,
        ", zip_with(fx, c.cv, (a, b) -> a - b) AS rp")
      .select(col("probe_id"), col("pc.k").as("k"), explode(subspaces("pc.rp")).as("x"))
      .select(col("probe_id"), col("k"), col("x.s").as("s"), col("x.sv").as("sv"))
    val ptab = distTables(subspaceDists(psub, rcb), "kc", col("probe_id"), col("k"))
    // the IVF prune: equi-join on the bucket
    topK(codes.withColumnRenamed("vec_id", "neighbor_id").join(broadcast(ptab), "k")
      .withColumn("adc_dist", adcDist(ksub)), 5, col("adc_dist"), "adc_dist", sorted = false)
  }

  /** The nprobe-INDEPENDENT half of the IVFADC oracle: residual
    * subvectors and the trained residual codebook chain, ending in
    * rcvec&lt;sfx&gt; (candidate codes)
    * + rcb&lt;sfx&gt; (the codebook) — shared by every nprobe
    * instantiation. `ksub` sizes the codebook (16 = the 4-bit default;
    * q_sim_pq_bits runs a 256-entry 8-bit variant beside it, so every
    * CTE name carries the suffix). rcand/rsub are codebook-size
    * independent, so only the default instantiation emits them; a
    * suffixed instantiation reuses the default's. */
  private def ivfpqCodebookCtes(sfx: String = "", ksub: Int = 16): String = {
    val head = if (sfx.nonEmpty) "" else
      "rcand AS (SELECT a2.vec_id, a2.k, " +
      "[e.fx[i+1] - c1.cv[i+1] for i in range(64)] AS rfx " +
      "FROM a2 JOIN e USING (vec_id) JOIN c1 ON a2.k = c1.k " +
      "WHERE a2.vec_id >= 10), " +
      "rsub AS (SELECT vec_id, k, s, rfx[s*8+1 : s*8+8] AS sv " +
      "FROM rcand, range(8) t(s)), "
    head +
    lloydCtes("r", sfx, "kc", seeds = "rsub", train = "rsub", ksub, "x") + ", " +
    s"rdist$sfx AS (SELECT r.vec_id, r.k, r.s, cb.kc, " +
    s"${TextOps.sqdDuck("r.sv", "cb.cent", 8)} AS d FROM rsub r JOIN rcb$sfx cb ON r.s = cb.s), " +
    s"rcvec$sfx AS (SELECT vec_id, k, list(kc ORDER BY s) AS codes FROM " +
    s"(SELECT vec_id, k, s, kc FROM rdist$sfx " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, kc) = 1) " +
    "GROUP BY vec_id, k)"
  }

  /** DuckDB mirror of [[ivfAdcRanked]], assuming fxCte's `e` and the
    * kmeans chain's `c1`/`a2` are in scope: residual subvectors, the
    * residual Lloyd's codebook (identical arithmetic to pqOracleChain's
    * trained branch), per-(probe, bucket) distance tables, the
    * bucket-equi-joined ADC, ending in rkivf (probe_id, neighbor_id,
    * adc_dist, rank). */
  private def ivfpqOracleChain: String =
    ivfpqCodebookCtes() + ", " + ivfpqServeCtes("", 2)

  /** The nprobe-dependent HALF of the IVFADC oracle — probe bucket
    * selection (QUALIFY ≤ nprobe), per-(probe, bucket) residual distance
    * tables, the bucket-equi-joined ADC, ranks — with CTE names suffixed
    * `sfx` so q_sim_recall_curve can run several nprobe settings against
    * the ONE shared residual codebook chain (rcand..rcvec). `cbSfx`
    * selects WHICH codebook chain to serve from (q_sim_pq_bits serves
    * the 4-bit and 8-bit codebooks side by side) and `ksub` must match
    * its size — it strides the flattened distance-table lookup. Ends in
    * rkivf&lt;sfx&gt;. */
  private def ivfpqServeCtes(sfx: String, nprobe: Int,
      cbSfx: String = "", ksub: Int = 16): String =
    nearestDuck(s"ppc$sfx", nprobe, ", [e.fx[i+1] - c1.cv[i+1] for i in range(64)] AS rp") +
    s", psub$sfx AS (SELECT probe_id, k, s, rp[s*8+1 : s*8+8] AS sv " +
    s"FROM ppc$sfx, range(8) t(s)), " +
    s"pdist$sfx AS (SELECT p.probe_id, p.k, p.s, cb.kc, " +
    s"${TextOps.sqdDuck("p.sv", "cb.cent", 8)} AS d FROM psub$sfx p JOIN rcb$cbSfx cb ON p.s = cb.s), " +
    s"ptab$sfx AS (SELECT probe_id, k, list(d ORDER BY s, kc) AS dta " +
    s"FROM pdist$sfx GROUP BY probe_id, k), " +
    s"iscored$sfx AS (SELECT p.probe_id, c.vec_id AS neighbor_id, ${adcDuck(ksub)} " +
    s"FROM rcvec$cbSfx c JOIN ptab$sfx p ON c.k = p.k), " +
    adcRankDuck(s"rkivf$sfx", s"iscored$sfx")

  /** DuckDB mirror of [[nearestCentroids]]: CTE `name` (probe_id, k
    * `fields`) — each probe's `nprobe` nearest k-means centroids `c1`
    * by integer squared distance, (d, k) order; fxCte's `e` in scope. */
  private def nearestDuck(name: String, nprobe: Int, fields: String = ""): String =
    s"$name AS (SELECT e.vec_id AS probe_id, c1.k$fields FROM e, c1 " +
    "WHERE e.vec_id < 10 " +
    "QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
    s"${TextOps.sqdDuck("e.fx", "c1.cv", 64)}, c1.k) <= $nprobe)"

  /** DuckDB mirror of [[adcDist]]: probe table `p.dta`, candidate codes
    * `c.codes`. */
  private def adcDuck(ksub: Int): String =
    s"CAST(list_sum([ p.dta[s*$ksub + c.codes[s+1] + 1] for s in range(8) ]) " +
    "AS BIGINT) AS adc_dist"

  /** CTE `name`: the ADC rows of `from` ranked per probe by (adc_dist,
    * neighbor_id) — the DuckDB side of the ADC top-k tail. */
  private def adcRankDuck(name: String, from: String): String =
    s"$name AS (SELECT probe_id, neighbor_id, adc_dist, " +
    "CAST(row_number() OVER (PARTITION BY probe_id " +
    s"ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank FROM $from)"

  /** DuckDB mirror of [[pqCodebook]]: the seed codebook `<p>cb0<sfx>`
    * (vec_id 10..9+ksub of `seeds`, codeword column `code`), one Lloyd's
    * round over `train` — (d, code) argmin, floor(sum/n + 0.5) update
    * mean, empty clusters keep their seed — ending in `<p>cb<sfx>` (s,
    * code, cent). `ax` suffixes the final join aliases c0/c1 (the IVF
    * chain already has a kmeans CTE named c1). */
  private def lloydCtes(p: String, sfx: String, code: String, seeds: String,
      train: String, ksub: Int, ax: String): String =
    s"${p}cb0$sfx AS (SELECT vec_id - 10 AS $code, s, sv AS cent FROM $seeds " +
    s"WHERE vec_id BETWEEN 10 AND ${9 + ksub}), " +
    s"${p}a1$sfx AS (SELECT t.vec_id, t.s, c.$code, t.sv FROM $train t " +
    s"JOIN ${p}cb0$sfx c ON t.s = c.s " +
    "QUALIFY row_number() OVER (PARTITION BY t.vec_id, t.s ORDER BY " +
    s"${TextOps.sqdDuck("t.sv", "c.cent", 8)}, c.$code) = 1), " +
    s"${p}s1$sfx AS (SELECT s, $code, pos, sum(x) AS sx, count(*) AS n FROM " +
    s"(SELECT s, $code, unnest(sv) AS x, generate_subscripts(sv, 1) - 1 AS pos " +
    s"FROM ${p}a1$sfx) GROUP BY s, $code, pos), " +
    s"${p}c1$sfx AS (SELECT s, $code, " +
    "list(CAST(floor(CAST(sx AS DOUBLE) / n + 0.5) AS BIGINT) ORDER BY pos) " +
    s"AS newc FROM ${p}s1$sfx GROUP BY s, $code), " +
    s"${p}cb$sfx AS (SELECT c0$ax.s, c0$ax.$code, coalesce(c1$ax.newc, c0$ax.cent) AS cent " +
    s"FROM ${p}cb0$sfx c0$ax LEFT JOIN ${p}c1$sfx c1$ax " +
    s"ON c0$ax.s = c1$ax.s AND c0$ax.$code = c1$ax.$code)"

  /** DuckDB mirror of [[pqSubvectors]]: fixed-point vectors e (the
    * TextOps-shared fxCte), per-subspace slices sub, the candidate
    * training set tr. */
  private val pqOracleHead: String =
    TextOps.fxCte + ", " +
    "sub AS (SELECT vec_id, s, fx[s*8+1 : s*8+8] AS sv FROM e, range(8) t(s)), " +
    "tr AS (SELECT * FROM sub WHERE vec_id >= 10)"

  /** DuckDB mirror of [[pqCodebook]] + [[pqAdcRanked]]: the CTE chain
    * ending in rk&lt;sfx&gt; (probe_id, neighbor_id, adc_dist, rank). CTE
    * names carry `sfx` so q_sim_recall_pq can run both codebooks in one
    * statement. Identical arithmetic: integer squared distances with
    * (d, k) argmin tiebreak; trained's update mean is the same
    * floor(sum/n + 0.5) double division both engines compute IEEE-
    * identically; empty clusters coalesce back to their seed. */
  private def pqOracleChain(sfx: String, trained: Boolean): String = {
    val cb =
      if (!trained)
        s"cb$sfx AS (SELECT vec_id - 10 AS k, s, sv AS cent FROM sub " +
        "WHERE vec_id BETWEEN 10 AND 25)"
      else lloydCtes("", sfx, "k", seeds = "sub", train = "tr", 16, "")
    cb + ", " +
    s"dist$sfx AS (SELECT c.vec_id, c.s, cb.k, " +
    s"${TextOps.sqdDuck("c.sv", "cb.cent", 8)} AS d FROM sub c JOIN cb$sfx cb ON c.s = cb.s), " +
    s"codes$sfx AS (SELECT vec_id, s, k AS code FROM dist$sfx WHERE vec_id >= 10 " +
    "QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, k) = 1), " +
    s"cvec$sfx AS (SELECT vec_id, list(code ORDER BY s) AS codes " +
    s"FROM codes$sfx GROUP BY vec_id), " +
    s"dtv$sfx AS (SELECT vec_id AS probe_id, list(d ORDER BY s, k) AS dta " +
    s"FROM dist$sfx WHERE vec_id < 10 GROUP BY vec_id), " +
    s"scored$sfx AS (SELECT p.probe_id, c.vec_id AS neighbor_id, ${adcDuck(16)} " +
    s"FROM cvec$sfx c, dtv$sfx p), " +
    adcRankDuck(s"rk$sfx", s"scored$sfx")
  }

  /** Verify stage shared by the Jaccard dedup paths: attach each side's
    * sorted code set via a SHUFFLE join on the id-only candidate pairs —
    * never a corpus-size broadcast (the per-doc set table is terabytes at
    * 100 TB; the hint pins the plan AQE picks at scale, where fixture-size
    * tables would otherwise auto-broadcast). The threshold-fused Jaccard
    * runs ONCE per pair: explode(array(j)) + IS NOT NULL above the
    * Generate — a bare filter on a projected column gets re-inlined by
    * CollapseProject/PushDownPredicate and evaluates the merge twice.
    */
  private def jaccardVerify(pairs: DataFrame, enc: DataFrame, thresh: Double): DataFrame =
    jaccardVerifyUnordered(pairs, enc, thresh).orderBy("doc_a", "doc_b")

  /** The verify stage without the presentation sort — for callers that
    * keep composing (the ingest fold unions several verify passes and
    * then anti-joins; a sort under a union/join is dead work the
    * optimizer is not guaranteed to remove).
    */
  private[graft] def jaccardVerifyUnordered(pairs: DataFrame, enc: DataFrame,
      thresh: Double): DataFrame = {
    val ca = enc.select(col("doc_id").as("doc_a"), col("codes").as("ca"))
    val cb = enc.select(col("doc_id").as("doc_b"), col("codes").as("cb"))
    pairs.join(ca.hint("shuffle_hash"), "doc_a")
      .join(cb.hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        explode(array(expr(s"sorted_jaccard_ge(ca, cb, ${thresh}D)"))).as("jacc"))
      .where(col("jacc").isNotNull)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: canonical doc per distinct text. groupBy+min, not
    // dropDuplicates (which keeps an arbitrary row).
    "q_dedup_exact" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .groupBy("text")
        .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
        .select(col("canonical_id"), md5(col("text")).as("fp"), col("n_copies"))
        .orderBy("canonical_id")),

    // Shared-substring fingerprint dedup — the character-level metric
    // token-set Jaccard misses (reordered paragraphs, inserted
    // boilerplate around a verbatim core): doc pairs sharing >= 3
    // content-defined fingerprints, where a fingerprint is a sampled
    // 24-char-gram hash. Sampling is 0-mod-p on the HASH VALUE (Broder/
    // Heintze fingerprinting, the winnowing family): selection depends
    // on content alone, so two docs sharing a substring select the SAME
    // grams regardless of where the substring sits in each doc —
    // stride/offset sampling would miss misaligned copies. A shared
    // substring of length ~K + p*minShared is detected with high
    // probability (it contributes ~(L-K+1)/p sampled grams). Fingerprints
    // seen in > 64 docs are dropped before pairing — the boilerplate/skew
    // guard: a corpus-wide header would otherwise fan out df^2 pairs.
    // Scale shape: per-doc gram hashing is map-side and O(1) PER
    // POSITION — the native rolling-hash expression (functions.
    // RollingKgramHash, Rabin-Karp polynomial mod 2^61-1) replaces the
    // earlier md5-per-position form at ~1/k the work, and the oracle
    // evaluates the identical polynomial in 128-bit SQL arithmetic;
    // candidates shuffle once on the fingerprint, pairs aggregate once.
    // Never a corpus self-join.
    "q_dedup_substring" -> ((s, dir) => {
      graft.functions.RollingKgramHash.register(s)
      val (k, p, minShared, maxDf) = (24, 8, 3, 64)
      // h % p filter BEFORE the distinct: the predicate is on h alone, so
      // distinct-then-filter == filter-then-distinct, and the dedup
      // shuffle moves 1/p of the grams instead of all of them
      val fp = Tables(s, dir, "documents")
        .where(length(col("text")) >= k)
        .selectExpr("doc_id", "lang",
          s"explode(rolling_kgram_hash(text, $k)) AS h")
        .where(col("h") % p === 0)
        .distinct()
      val keep = fp.groupBy("h").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf).select("h")
      val kept = fp.join(keep.hint("shuffle_hash"), "h")
      val a = kept.select(col("doc_id").as("doc_a"), col("lang"), col("h"))
      val b = kept.select(col("doc_id").as("doc_b"), col("lang"), col("h"))
      a.join(b.hint("shuffle_hash"), Seq("lang", "h"))
        .where(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= minShared)
        .orderBy("doc_a", "doc_b")
    }),

    // CONTENT-DEFINED CHUNKING dedup (the LBFS/Venti storage-dedup
    // classic, basic-CDC form) — the shift-robust sibling of
    // q_dedup_substring's fingerprint pairs: chunk boundaries are
    // DATA-DEFINED (a cut wherever the rolling k=16-gram hash ≡ 0
    // mod 64, expected ~64-char chunks), so inserting a byte early in
    // a document moves ONE boundary instead of re-aligning every
    // fixed-size block — identical content after the edit re-chunks
    // identically and dedups. Served as the per-language storage
    // ledger (chunks, distinct chunks, bytes total vs unique — the
    // dedup-savings numbers a chunk store reports). Scale shape: the
    // gram explode is map-side and drops 63/64 of positions at the
    // filter BEFORE any shuffle; text is NOT carried through the
    // explode — the KB-scale cut table joins back to the corpus once;
    // chunk identity is md5 so the distinct shuffle moves hashes, not
    // chunk bodies. The min/max-chunk-size guards of production CDC
    // are a sequential refinement both engines would apply identically
    // — stated, not implemented (basic CDC is the published baseline).
    "q_dedup_cdc" -> ((s, dir) => {
      graft.functions.RollingKgramHash.register(s)
      val (k, d) = (16, 64)
      val docs = Tables(s, dir, "documents")
        .where(length(col("text")) >= k)
        .select(col("doc_id"), col("lang"), col("text"),
          length(col("text")).as("n"))
      val cuts = docs
        .select(col("doc_id"),
          posexplode(expr(s"rolling_kgram_hash(text, $k)")).as(Seq("pos", "h")))
        .where(col("pos") > 0 && col("h") % d === 0)
        .select(col("doc_id"), col("pos"))
      val ends = cuts.unionByName(
        docs.select(col("doc_id"), col("n").cast("int").as("pos")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val chunks = ends
        .withColumn("start", lag(col("pos"), 1, 0).over(w))
        .join(docs.select("doc_id", "lang", "text"), "doc_id")
        .select(col("doc_id"), col("lang"),
          expr("md5(substr(text, start + 1, pos - start))").as("fp"),
          (col("pos") - col("start")).cast("long").as("clen"))
      chunks.groupBy("lang", "fp")
        .agg(count(lit(1)).as("copies"), min("clen").as("clen"))
        .groupBy("lang")
        .agg(sum("copies").as("n_chunks"),
          count(lit(1)).as("n_distinct_chunks"),
          sum(expr("copies * clen")).as("bytes_total"),
          sum("clen").as("bytes_unique"))
        .orderBy("lang")
    }),

    // Near-dup pairs: token-set Jaccard >= 0.8 inside (lang, n_chars/50)
    // blocks. Candidates from the adaptive generator (candidatePairs:
    // prefix filtering on Zipfian vocab, size-pruned block join on
    // degenerate vocab — both exact), then the shared shuffle-attach
    // verify (one linear merge per pair over long codes). Output is
    // identical to the all-pairs-in-block form the oracle runs.
    "q_dedup_near" -> ((s, dir) => {
      graft.functions.SortedJaccardGe.register(s)
      val meta = docMeta(Tables(s, dir, "documents"))
      // enc feeds the candidate generator AND both verify attach legs,
      // which join on DIFFERENT keys (doc_a / doc_b) — no exchange
      // reuse, so the per-token md5 encode pass runs 2-3x per
      // invocation. It stays declarative: a quiet-box A/B measured a
      // localCheckpoint pin of it ~12% slower on the 6-key dedup set
      // (recomputing the cheap encode inside each fused consumer beats a
      // materialization barrier at fixture scale; at 100 TB, where the
      // encode is a full corpus scan, the trade would reverse)
      val enc = tokenCodes(s, dir)
      jaccardVerify(candidatePairs(enc, meta, 4, 5, "near", dir), enc, 0.8)
    }),

    // Containment dedup — the asymmetric metric Jaccard misses: a short
    // doc whose distinct-token set lies ENTIRELY inside a longer doc's
    // (quote extraction, boilerplate chunks, truncated copies) scores
    // low Jaccard but is still redundant content. Served as the per-doc
    // subsumption view — for every contained doc: how many same-lang
    // docs fully contain it and the smallest such container — which is
    // the keep/drop decision input. Size-ratio pruning does NOT apply
    // to containment (a 10-token doc can live inside a 1000-token one),
    // so candidates come from the rare-token inverted index (any
    // superset of A must contain A's rarest token — O(df(rarest))
    // candidates per doc; the langBlockedTokenPairs asymmetric path),
    // then the codegen'd sorted-merge intersect decides exactly.
    "q_dedup_containment" -> ((s, dir) => {
      graft.functions.SortedIntersectSize.register(s)
      langBlockedTokenPairs(s, dir, ordered = false)
        .where(expr("sorted_intersect_size(ta, tb)") === size(col("ta")))
        .groupBy(col("da").as("doc_id"))
        .agg(count(lit(1)).as("n_containers"),
          min(col("db")).as("min_container"),
          max(size(col("tb"))).cast("bigint").as("max_container_toks"))
        .orderBy("doc_id")
    }),

    // Incremental near-dup: the q_dedup_near pair set restricted to pairs
    // touching a NEW batch — here the top fifth of the id space, standing
    // in for a day's append-only ingest. Candidates come from
    // incrementalCandidates (delta x corpus block join, corpus never
    // self-joined), then the same shuffle-attach verify; at 100 TB the
    // nightly cost is proportional to the delta, not the lake. The cut is
    // an O(1)-row statistics job (the auto-knob pattern); a real delta is
    // a known input (yesterday's files), not derived from max(id).
    "q_dedup_incremental" -> ((s, dir) => {
      graft.functions.SortedJaccardGe.register(s)
      val docs = Tables(s, dir, "documents")
      val cut = docs.selectExpr("(4 * max(doc_id)) DIV 5 AS c").head().getLong(0)
      val meta = docMeta(docs)
      val enc = tokenCodes(s, dir)
      val pairs = incrementalCandidates(meta.where(col("doc_id") > cut), meta, 4, 5)
      jaccardVerify(pairs, enc, 0.8)
    }),

    // Dedup-on-ingest: the corpus fed through 4 sequential id-suffix
    // batches with first-copy-wins against a grow-only signature store
    // (ingestSurvivors). Returns the surviving doc ids; the oracle is
    // the ONE-SHOT batch answer (drop every doc that near-dups a
    // smaller-id doc), so the green row proves the incremental fold
    // converges to the batch recompute regardless of batching.
    "q_dedup_ingest" -> ((s, dir) => ingestSurvivors(s, dir, 4)),

    // MinHash + banded LSH candidates, then exact-Jaccard verification at
    // 0.8. Approximate by design: a >=0.8 pair missed by every band is
    // absent — the oracle runs the identical two-stage pipeline at the
    // FIXTURE parameters (8 permutations, 2 bands x 4 rows), so outputs
    // still hash-match. Rows-per-band (perms/bands) is the corpus fan-out
    // lever: background band collisions for a pair of Jaccard j happen
    // with probability j^rows per band, so rows ∝ log N keeps candidate
    // volume ~linear where a fixed 4-row band pins collision odds
    // forever (pairs ~N²·E[j⁴]). Hash i is identical at every width
    // (prefix property), so widening perms extends each signature, never
    // reshuffles it. BANDING RECALL is the price: a true pair at
    // threshold t survives with 1-(1-t^rows)^bands (t=0.8, 4 rows, 2
    // bands → 65%) — deeper rows need MORE bands to hold recall;
    // q_dedup_minhash_banded runs the wider (12, 3) setting and
    // q_dedup_recall grades both. Verify's two attach legs join on
    // different keys and read the encode pass unpinned (see q_dedup_near).
    "q_dedup_minhash" -> ((s, dir) => {
      graft.functions.SortedJaccardGe.register(s)
      jaccardVerify(minhashCandidates(sortedToks(s, dir), 8, 2), tokenCodes(s, dir), 0.8)
    }),

    // The generalized banding, oracle-pinned at NON-fixture parameters
    // (12 permutations x 3 bands of 4 rows): the DuckDB oracle mirrors
    // the widened multiplier table and the three band keys, so the
    // knob-widened code path — not just the 8/2 default — is
    // hash-checked. Recall at t=0.8 rises to 1-(1-0.8^4)^3 ≈ 80%.
    "q_dedup_minhash_banded" -> ((s, dir) => {
      graft.functions.SortedJaccardGe.register(s)
      jaccardVerify(minhashCandidates(sortedToks(s, dir), 12, 3), tokenCodes(s, dir), 0.8)
    }),

    // Candidate-quality gate for the approximate dedup paths — the
    // dedup twin of q_sim_recall: how many of the TRUE near-dup pairs
    // (the declared exact >=0.8 Jaccard set, q_dedup_near's answer) does
    // each MinHash-LSH knob setting surface as candidates, and at what
    // candidate volume? One row per graded knob setting with integer
    // (n_true, n_cand, n_hit) counts — the recall/cost curve a real
    // pipeline tracks when tuning bands x rows (theory: recall at t is
    // 1-(1-t^rows)^bands -> 65% for 8x2, 80% for 12x3 at t=0.8; the
    // fixture's true pairs sit well above 0.8, so observed recall is
    // higher — DedupRecallSpec pins the floors). All three counts are
    // aggregates of id-pair joins: the 1-row stat frames cross-join at
    // the end, the fact-sized work is hash joins + counts.
    "q_dedup_recall" -> ((s, dir) => {
      graft.functions.SortedJaccardGe.register(s)
      val d = sortedToks(s, dir)
      val truth = nearDupEdges(s, dir)
      def graded(name: String, perms: Int, bands: Int): DataFrame = {
        // cand feeds two consumers (n_cand + the hit join) — left
        // declarative: ReuseExchange dedupes the signature/band map
        // stages, and an eager pin of the pair list MEASURED SLOWER
        // (r20: 3.2s pinned vs 1.4s declarative at sf0.1 — the
        // materialization barrier outweighs the duplicated reduce side)
        val cand = minhashCandidates(d, perms, bands).select("doc_a", "doc_b")
        truth.agg(count(lit(1)).as("n_true"))
          .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
          .crossJoin(truth.join(cand, Seq("doc_a", "doc_b"))
            .agg(count(lit(1)).as("n_hit")))
          .select(lit(name).as("modality"),
            col("n_true"), col("n_cand"), col("n_hit"))
      }
      graded("minhash_12x3", 12, 3)
        .unionByName(graded("minhash_8x2", 8, 2))
        .orderBy("modality")
    }),

    // SimHash: signature from per-bit token majority votes; pairs with
    // hamming distance <= 3 inside the same language. Candidates by
    // pigeonhole-LSH over disjoint bands (simhashCandidates): 3
    // differing bits touch at most 3 of the 4 bands, so every qualifying
    // pair shares at least one (band, value) — exact recall while
    // bands > hamMax. The declared query runs the FIXTURE parameters
    // (16-bit signature, 4 bands — mirrored in the oracle); at corpus
    // scale set spark.graft.dedup.simhashBits (e.g. 64 -> 16-bit bands,
    // 65,536 bucket values per (lang, band)) so bucket population stays
    // constant as the corpus grows instead of N/16 (pairs ~N²/512) — the
    // signature's prefix property keeps narrow-width outputs unchanged.
    // simhashBits=auto derives the per-band width from the memoized
    // approximate corpus count (ceil(log2(N/64)) per band,
    // floored at the fixture width) — scale-safety without knowing N.
    "q_dedup_simhash" -> ((s, dir) => {
      val bands = s.conf.getOption("spark.graft.dedup.simhashBands")
        .map(_.toInt).getOrElse(4)
      require(bands > 3, s"hamming<=3 needs >=4 bands for exact recall, got $bands")
      val bits = s.conf.getOption("spark.graft.dedup.simhashBits") match {
        case None => 16
        case Some("auto") =>
          val n = approxCorpusCount(Tables(s, dir, "documents"), "doc_id", "docs", dir)
          bands * autoWidth(n, TargetBucket, math.max(1, 16 / bands), 64 / bands)
        case Some(v) => v.toInt
      }
      simhashPairs(s, dir, bits, bands)
    }),

    // The corpus-scaled signature width, oracle-pinned at a NON-fixture
    // parameter (24-bit signature, 4 six-bit bands): the oracle computes
    // the same 24 majority-vote bits, so the widened path — more bucket
    // values per band, fewer false candidates — is hash-checked, and the
    // prefix property is visible in the data (sim_a's low 16 bits equal
    // q_dedup_simhash's signature doc for doc).
    "q_dedup_simhash_wide" -> ((s, dir) => simhashPairs(s, dir, 24, 4)),

    // Character 3-gram Jaccard >= 0.6 inside (lang, n_chars/100) blocks.
    // Shape matters here: the blocked self-join emits id-only pairs (no
    // arrays through the skewed block-key shuffle), the trigram sets —
    // packed 63-bit code points from TrigramCodes (one pass, zero string
    // allocation; injective packing keeps Jaccard bit-identical to the
    // string formulation the oracle runs) — are shuffle-attached, and the
    // O(pairs * |grams|) primitive-long merge runs once per pair.
    "q_dedup_ngram" -> ((s, dir) => {
      graft.functions.SortedJaccardGe.register(s)
      graft.functions.TrigramCodes.register(s)
      // grams feeds the candidate generator and both verify attach
      // legs, unpinned like q_dedup_near's encode pass
      val grams = Tables(s, dir, "documents")
        .selectExpr("doc_id", "trigram_codes(text) AS codes")
      val meta = Tables(s, dir, "documents").selectExpr("doc_id", "lang",
        "n_chars DIV 100 AS bucket", "size(trigram_codes(text)) AS sz")
      jaccardVerify(candidatePairs(grams, meta, 3, 5, "ngram", dir), grams, 0.6)
    }),

    // Embedding near-dup: cosine >= 0.3 inside the same TWO-LEVEL block
    // (label, sign-LSH bucket). Label alone is a coarse cluster whose
    // population grows linearly with the corpus — quadratic pairs within
    // the hottest label; composing it with the sign-LSH bucket (the same
    // fixed Rademacher planes as q_sim_lsh: `lsh_bucket` here, the
    // bit-identical SQL chain in the oracle) bounds within-block pairs.
    // The declared query runs the FIXTURE fan-out (4 planes, mirrored in
    // the oracle); at corpus scale set spark.graft.dedup.cosinePlanes ≈
    // log2(N / target-bucket) so bucket population stays constant as the
    // corpus grows — plane b
    // is identical at every fan-out, so widening refines buckets without
    // reshuffling them. Approximate by design — a same-label pair split
    // across buckets is absent — and the oracle runs the identical
    // two-stage pipeline, so outputs hash-match.
    // cosinePlanes=auto derives planes from the memoized approximate
    // corpus count (the candidatePairs statistics pattern) — same prefix property.
    "q_dedup_cosine" -> ((s, dir) =>
      cosinePairs(s, dir, resolveFanout(s, "spark.graft.dedup.cosinePlanes",
        fixture = 4, cap = 24, name = "emb", dir = dir)(
        (Tables(s, dir, "embeddings"), "vec_id")))),

    // The corpus-scaled sign-LSH fan-out, oracle-pinned at a NON-fixture
    // parameter (6 hyperplanes = 64 buckets): `lsh_bucket` and the
    // oracle's chain read the same first 6 planes (prefix property —
    // planes 0-3 are exactly q_dedup_cosine's), so the widened blocking
    // is hash-checked end to end.
    "q_dedup_cosine_wide" -> ((s, dir) => cosinePairs(s, dir, 6)),

    // Similarity search: brute-force cosine top-5 for 10 probe vectors
    // against all the rest; probe side broadcasts.
    "q_sim_topk" -> ((s, dir) =>
      topK(exactScores(s, dir), 5, col("score").desc, "score")),

    // Dedup clustering: connected components over the near-dup pair graph
    // (the same Jaccard >= 0.8 edges as q_dedup_near), labeling
    // every document with the min doc_id reachable from it — the "keep one
    // canonical doc per duplicate cluster" step of a training-data
    // pipeline. Iterative min-label propagation with pointer jumping: each
    // pass is one shuffle join over (tiny) id/label rows, pointer jumping
    // composes labels so convergence is O(log diameter) passes — the
    // two-phase star-contraction shape that scales to 100 TB graphs. The
    // loop runs ONLY over nodes that have at least one edge — isolated
    // docs (the overwhelming majority of a deduped corpus) keep
    // lbl = doc_id and rejoin at the end, so the per-pass shuffles move
    // the duplicate subgraph, not the corpus. The driver loop reads one
    // convergence bit per pass as an observe() metric riding the pin job
    // itself (no separate probe job — r21);
    // each pass is pinned (passPinner) so plans stay constant-size
    // instead of growing exponentially with iterations; set
    // spark.graft.cluster.reliableCheckpoint=true to survive executor
    // loss at scale (reliable checkpoint per pass instead of
    // executor-memory blocks).
    "q_dedup_cluster" -> ((s, dir) => {
      val dup = nearDupEdges(s, dir)
      val pin = passPinner(s)
      val edges = pin(dup.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(dup.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
      // Pass 0, fused: with identity labels, "min label over neighbors"
      // IS "min neighbor id", so the first propagation is one groupBy
      // (both edge directions are present, so src alone covers every edge
      // node) — no join against an identity label table, no separate
      // init checkpoint. The pointer jump then composes two hops.
      val nbr0 = edges.groupBy("src")
        .agg(least(col("src"), min(col("dst"))).as("lbl"))
        .select(col("src").as("doc_id"), col("lbl"))
      val ptr0 = nbr0.select(col("doc_id").as("p"), col("lbl").as("plbl"))
      var lbl = pin(nbr0.join(ptr0, nbr0("lbl") === ptr0("p"))
        .select(nbr0("doc_id").as("doc_id"), col("plbl").as("lbl")))
      // pass 0 always changes labels (any node with a smaller neighbor
      // moves), so the convergence check starts at pass 1
      var done = false
      var iter = 1
      while (!done && iter < 12) {
        val nbrMin = edges
          .join(lbl.select(col("doc_id").as("dst_id"), col("lbl").as("dlbl")),
            col("dst") === col("dst_id"))
          .groupBy("src").agg(min("dlbl").as("nlbl"))
        val stepped = lbl.join(nbrMin, lbl("doc_id") === nbrMin("src"), "left")
          .select(lbl("doc_id").as("doc_id"), lbl("lbl").as("prev"),
            least(lbl("lbl"), coalesce(col("nlbl"), lbl("lbl"))).as("lbl"))
        // pointer jump: labels are doc_ids of edge nodes (a min over
        // same-component neighbors), so following the label one hop stays
        // inside `stepped` — the inner join is total
        val ptr = stepped.select(col("doc_id").as("p"), col("lbl").as("plbl"))
        // the convergence count rides the pin job itself as an observe()
        // metric (CollectMetrics is a streaming-fold over rows the
        // checkpoint job already materializes), replacing the per-pass
        // probe job `next.where(changed).isEmpty` — one job per pass
        // instead of two (r20 verdict item 5, guide §1.5)
        val obs = org.apache.spark.sql.Observation()
        val next = pin(stepped.join(ptr, stepped("lbl") === ptr("p"))
          .select(stepped("doc_id").as("doc_id"), col("plbl").as("lbl"),
            (col("plbl") =!= col("prev")).as("changed"))
          .observe(obs, coalesce(sum(when(col("changed"), lit(1L))
            .otherwise(lit(0L))), lit(0L)).as("n_changed")))
        done = convergedVia(obs).getOrElse {
          // metric delivery is a listener-bus callback; if the bus lags
          // past the bounded wait, fall back to the pre-r21 probe job —
          // never wrong, just one extra job for that pass
          System.err.println(
            "q_dedup_cluster: observe metric missed, probe fallback")
          next.where(col("changed")).isEmpty
        }
        lbl = next.select("doc_id", "lbl")
        iter += 1
      }
      // an unconverged exit must fail loudly — partially-propagated
      // labels are indistinguishable from a correct answer downstream
      if (!done) throw new IllegalStateException(
        s"q_dedup_cluster: label propagation unconverged after $iter passes")
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(lbl, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("component"))
        .withColumn("is_canonical", col("doc_id") === col("component"))
        .orderBy("doc_id")
    }),

    // Dedup retention: the "keep the best copy" step that follows pair
    // detection in a training-data pipeline. A doc is DROPPED when some
    // near-dup partner (the q_dedup_near >= 0.8 edges) dominates it:
    // more distinct tokens, or equally many and a smaller doc_id (a
    // total order, so every connected pair resolves deterministically
    // and at least one doc of every cluster survives). Dominance is a
    // scalar predicate per edge + a distinct over dropped ids — narrow
    // shuffles over the (already bounded) edge set, no windows, no
    // quality-score floats to disagree across engines.
    "q_dedup_retention" -> ((s, dir) => {
      val dup = nearDupEdges(s, dir)
      val q = Tables(s, dir, "documents").selectExpr("doc_id",
        "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS n_dist")
      val edges = dup.select(col("doc_a").as("doc_id"), col("doc_b").as("partner"))
        .union(dup.select(col("doc_b").as("doc_id"), col("doc_a").as("partner")))
      val dominated = edges
        .join(q.select(col("doc_id"), col("n_dist").as("my_dist"))
          .hint("shuffle_hash"), "doc_id")
        .join(q.select(col("doc_id").as("partner"), col("n_dist").as("p_dist"))
          .hint("shuffle_hash"), "partner")
        .where(col("p_dist") > col("my_dist") ||
          (col("p_dist") === col("my_dist") && col("partner") < col("doc_id")))
        .select(col("doc_id"), lit(1).as("d")).distinct()
      q.join(dominated, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_dist"), col("d").isNull.as("is_kept"))
        .orderBy("doc_id")
    }),

    // Sign-LSH ANN: bucket every vector by the sign pattern of 4 fixed
    // Rademacher (+-1) hyperplane projections, then search only the
    // probe's bucket — the third ANN modality next to brute-force
    // (q_sim_topk) and IVF (q_sim_ivf). Approximate by design: a neighbor
    // in a different bucket is absent; the oracle runs the identical
    // bucketed pipeline, so outputs hash-match. The +-1 projections are
    // one primitive loop in `lsh_bucket` on the Spark side and the
    // bit-identical left-assoc add/subtract chain in the oracle.
    "q_sim_lsh" -> ((s, dir) => {
      // scanned fraction per probe is ~1/2^planes — at corpus scale set
      // spark.graft.sim.lshPlanes (prefix property: wider refines, so
      // recall trades off smoothly); the declared fixture fan-out is 4,
      // and lshPlanes=auto derives it from the memoized corpus count
      val planes = resolveFanout(s, "spark.graft.sim.lshPlanes",
        fixture = 4, cap = 24, name = "emb", dir = dir)(
        (Tables(s, dir, "embeddings"), "vec_id"))
      val e = vectors(s, dir)
        .withColumn("bucket", expr(s"lsh_bucket(v, $planes)"))
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("bucket").as("pbucket"),
          col("v").as("pv"), col("norm").as("pnorm"))
      topK(e.where(col("vec_id") >= 10)
          .join(broadcast(probes), col("bucket") === col("pbucket"))
          .withColumn("score", cosine("pv", "v", "pnorm", "norm")),
        3, col("score").desc, "score", id = "vec_id")
    }),

    // Int8-quantized similarity: per-vector symmetric scalar quantization
    // (scale = max |x| / 127), top-3 neighbors per probe by DEQUANTIZED
    // dot product — the memory-bound ANN path: 4x smaller vectors, exact
    // integer dot (values fit a double exactly), one multiply to
    // dequantize. floor(x/s*127 + 0.5) is bit-identical across engines,
    // unlike round() on arbitrary doubles.
    "q_sim_quantized" -> ((s, dir) => {
      val e = vectors(s, dir)
        .withColumn("sc", greatest(expr("array_max(transform(v, x -> abs(x)))"), lit(1e-9)))
        .withColumn("q", expr("transform(v, x -> CAST(floor(x / sc * 127.0D + 0.5D) AS DOUBLE))"))
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("sc").as("psc"), col("q").as("pq"))
      topK(e.where(col("vec_id") >= 10)
          .crossJoin(broadcast(probes))
          .withColumn("score",
            round(expr("vec_dot(pq, q)") * col("psc") / 127.0 * col("sc") / 127.0, 4)),
        3, col("score").desc, "score", id = "vec_id")
    }),

    // Two-stage coarse-to-fine retrieval (the Matryoshka / MRL serving
    // pattern): stage 1 ranks by cosine over the FIRST 16 dims only and
    // keeps 64 candidates per probe; stage 2 re-fetches the candidates'
    // FULL 64-dim vectors by id and rescores exactly, top-5. At 100 TB
    // the prefix is materialized as its own narrow column, so the coarse
    // scan reads 1/4 of the vector bytes over the whole corpus, and
    // only |probes|x64 candidate rows ever touch the full-width table —
    // which is why stage 2 here deliberately JOINS ids back to the
    // embeddings table instead of carrying full vectors through stage 1.
    // Approximate BY DESIGN (like q_sim_lsh): the fixture's vectors are
    // isotropic random, the hardest case for a prefix (every dim carries
    // equal signal — measured fixture recall 30/50 exact top-5 pairs);
    // trained MRL embeddings concentrate variance in the prefix, which
    // is what makes this the standard serving layout. The oracle pins
    // the exact two-stage algorithm, not a recall claim.
    "q_sim_mrl" -> ((s, dir) => {
      val full = vectors(s, dir)
      val pre = full.select(col("vec_id"), slice(col("v"), 1, 16).as("p8"))
        .withColumn("norm8", norm("p8"))
      val probes8 = pre.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("p8").as("pp8"),
          col("norm8").as("pnorm8"))
      val cands = pre.where(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("p8").as("cp8"),
          col("norm8").as("cnorm8"))
        .crossJoin(broadcast(probes8))
        .withColumn("cscore", cosine("pp8", "cp8", "pnorm8", "cnorm8"))
        .withColumn("crank", row_number().over(perProbe(col("cscore").desc)))
        .where(col("crank") <= 64)
        .select("probe_id", "neighbor_id")
      val pv = full.select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("norm").as("pnorm"))
      val cv = full.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("norm").as("cnorm"))
      topK(cands.join(cv, "neighbor_id").join(broadcast(pv), "probe_id")
          .withColumn("score", cosine("pv", "cv", "pnorm", "cnorm")),
        5, col("score").desc, "score")
    }),

    // IVF-style ANN: search only the probe's coarse cluster (label) — the
    // partition-pruned scale path; top-3 per probe.
    "q_sim_ivf" -> ((s, dir) => {
      val e = vectors(s, dir)
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("label").as("plabel"),
          col("v").as("pv"), col("norm").as("pnorm"))
      topK(e.join(broadcast(probes),
            col("label") === col("plabel") && col("vec_id") =!= col("probe_id"))
          .withColumn("score", cosine("pv", "v", "pnorm", "norm")),
        3, col("score").desc, "score", id = "vec_id")
    }),

    // IVF with a TRAINED coarse quantizer — the real IVF-Flat recipe
    // (q_sim_ivf searches the fixture's GIVEN labels): the shared
    // k-means clustering (TextOps.kmeansAssign, K=8) is the coarse
    // quantizer, candidates are bucketed by their assigned centroid, and
    // each probe searches its nprobe=2 nearest centroids' buckets with
    // exact cosine rescoring. Scale: the centroid row broadcasts (probe
    // cluster selection is map-side), the candidate join is an equi-join
    // on the cluster id (never a cross), and raising K keeps per-bucket
    // populations bounded exactly as in q_dedup_semantic. Deterministic:
    // integer centroid distances with (d, k) tiebreak pick the probe
    // buckets; the rescore is the sim family's round(·,4)+id total order.
    "q_sim_ivf_trained" -> ((s, dir) => {
      val av = TextOps.kmeansAssign(s, dir)
      val probeClusters = nearestCentroids(av, TextOps.kmeansCentroidRow(s, dir), 2)
        .select(col("probe_id"), col("pc.k").as("k"))
      val cand = av.where(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("k"))
      val e = vectors(s, dir)
      val pv = e.where(col("vec_id") < 10).select(col("vec_id").as("probe_id"),
        col("v").as("pv"), col("norm").as("pnorm"))
      val cv = e.where(col("vec_id") >= 10).select(col("vec_id").as("neighbor_id"),
        col("v").as("cv"), col("norm").as("cnorm"))
      topK(cand.join(broadcast(probeClusters), "k")
          .join(cv, "neighbor_id")
          .join(broadcast(pv), "probe_id")
          .withColumn("score", cosine("pv", "cv", "pnorm", "cnorm")),
        3, col("score").desc, "score")
    }),

    // Product-quantization ANN (Jegou-style PQ with asymmetric distance
    // computation) — the memory-bound serving layout the other sim paths
    // don't cover: vectors stored as 8 one-byte codes (one per 8-dim
    // subspace, argmin against a 16-centroid codebook) instead of 64
    // floats — 32x less candidate I/O. The probe precomputes its
    // distance TABLE to every centroid (8x16 integers, broadcast), and
    // each candidate scores as 8 table lookups — no vector arithmetic
    // per candidate at all. Everything runs in exact fixed-point
    // (x -> floor(1000x + 0.5) integers; squared distances are integer
    // sums — order-independent, bit-identical cross-engine, ties broken
    // by centroid/neighbor id), so the whole pipeline is deterministic
    // without a round() boundary. The codebook is the first 16
    // non-probe vectors' subvectors (training-free sample quantizer —
    // codebook QUALITY is a modeling concern; the operator contract is
    // the encode/ADC pipeline, which a k-means codebook would reuse
    // unchanged). Scale: codebook and probe tables broadcast; encoding
    // is one broadcast join per subspace row; serving never touches the
    // full-width vectors.
    "q_sim_pq" -> ((s, dir) =>
      pqAdcRanked(s, dir, trained = false).orderBy("probe_id", "rank")),

    // The same ADC pipeline with the codebook the SURVEY row promised:
    // subspace-wise Lloyd's (one exact-integer round, seeded by the
    // sample codebook) dropped into the identical encode/serve contract —
    // nothing downstream of pqCodebook changes.
    "q_sim_pq_trained" -> ((s, dir) =>
      pqAdcRanked(s, dir, trained = true).orderBy("probe_id", "rank")),

    // IVFADC — the composition of the two trained halves (FAISS's
    // production serving layout): the q_sim_ivf_trained coarse quantizer
    // prunes to nprobe=2 buckets, the q_sim_pq_trained trainer quantizes
    // RESIDUALS within each bucket, probes serve by ADC over residuals.
    // See ivfAdcRanked for the shapes that survive a billion vectors.
    "q_sim_ivfpq" -> ((s, dir) =>
      ivfAdcRanked(s, dir).orderBy("probe_id", "rank")),

    // PQ graded through the oracle, not only a spec pin: per probe, how
    // many of the exact cosine top-5 survive into each codebook's ADC
    // top-5 — recall@5 as oracle-checked integers, the same contract
    // q_sim_recall applies to LSH/IVF/MRL. One broadcast cross join for
    // the exact ranking plus the two (broadcast-only) ADC chains.
    "q_sim_recall_pq" -> ((s, dir) =>
      gradeHits(exactTopK(s, dir),
        ("h_s", "pq_hits", pqAdcRanked(s, dir, trained = false)),
        ("h_t", "pq_trained_hits", pqAdcRanked(s, dir, trained = true)),
        ("h_i", "ivfpq_hits", ivfAdcRanked(s, dir)))),

    // The IVFADC recall/cost CURVE — the knob ledger behind every "set
    // nprobe" tuning decision: the SAME residual codebook served at
    // nprobe = 1 / 2 / 4, each point grading TWO things per probe as
    // oracle-checked integers: (a) cand_npN — how many exact top-5
    // neighbors even LIVE in the probed buckets (the prune's recall
    // ceiling; monotone in nprobe by construction, since the bucket set
    // is a superset), and (b) hits_npN — how many survive the ADC top-5
    // (end-to-end). The gap between the two columns IS the tuning
    // lesson: when hits saturate while cand keeps rising (measured
    // here), the quality ceiling is the PQ quantization, not the prune —
    // raising nprobe buys nothing and the knob to turn is K*/codebook
    // bits. Cost scales linearly in nprobe (candidates = probed-bucket
    // populations). Monotonicity + hits ≤ cand pinned in SimRecallSpec.
    // One shared trainer (memoized residual codebook), three
    // broadcast-only serve chains.
    "q_sim_recall_curve" -> ((s, dir) => {
      val av = TextOps.kmeansAssign(s, dir)
      val cents = TextOps.kmeansCentroidRow(s, dir)
      val cands = av.where(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("k"))
      def probed(nprobe: Int) = cands.join(broadcast(nearestCentroids(av, cents, nprobe)
        .select(col("probe_id"), col("pc.k").as("k"))), "k")
      gradeHits(exactTopK(s, dir), Seq(1, 2, 4).flatMap(n => Seq(
        (s"c$n", s"cand_np$n", probed(n)),
        (s"h$n", s"hits_np$n", ivfAdcRanked(s, dir, n)))): _*)
    }),

    // The CODEBOOK-BITS point q_sim_recall_curve's saturation argues
    // for (r17 verdict #3): the curve measured ADC hits flat at 11
    // while prune candidates rose 38→42→46, concluding "the knob is
    // codebook bits, not nprobe" — this key SERVES that conclusion as
    // a measured comparison instead of an inference. The SAME IVFADC
    // chain (same coarse quantizer, same nprobe=2, same residual
    // Lloyd's trainer) run with the 16-entry 4-bit codebook beside a
    // 256-entry 8-bit one, graded per probe against the exact cosine
    // top-5 — recall@5 as oracle-checked integers, closing the tuning
    // loop the way q_dedup_recall closed the bands question.
    // SimRecallSpec pins hits_8bit ≥ hits_4bit. Scale: an 8-bit
    // codebook is 8×256 rows — still a broadcast; per-candidate serve
    // cost is IDENTICAL (8 table lookups either way; only the
    // broadcast table is 16× wider), which is exactly why codebook
    // bits is the knob that buys recall without touching serve cost.
    "q_sim_pq_bits" -> ((s, dir) =>
      gradeHits(exactTopK(s, dir),
        ("h4", "hits_4bit", ivfAdcRanked(s, dir, nprobe = 2, ksub = 16)),
        ("h8", "hits_8bit", ivfAdcRanked(s, dir, nprobe = 2, ksub = 256)))),

    // ANN quality gate: recall@5 of the three approximate paths against
    // the exact answer, oracle-checked as integer hit counts. For each
    // fixture probe, the exact cosine top-5 (q_sim_topk's ranking) is
    // intersected with each method's CANDIDATE set — LSH: same sign-LSH
    // bucket (the fixture 4-plane fan-out, identical literals in both
    // engines); IVF: same coarse label; MRL: the 16-dim-prefix coarse
    // top-64. Deterministic because every score is the shared
    // round(·,4)+id-tiebreak total order the sim family already pins.
    // One candidates×probes pass computes BOTH rankings: the exact and
    // coarse windows share the probe_id partition, so the whole query is
    // one broadcast cross join + one shuffle. The recall floors
    // themselves are pinned in SimRecallSpec; the oracle pins the
    // arithmetic.
    // FILTERED ANN — the production problem the plain recall keys
    // skip: top-k under a metadata predicate (here a shard filter
    // neighbor_id ≡ probe_id mod 3, selectivity ~1/3). Post-filtering
    // an ANN candidate list starves recall unless the candidate
    // budget EXPANDS to cover the filter's selectivity — the measured
    // knob this key serves: the coarse (16-dim MRL) top-8 post-filtered
    // keeps ~8/3 survivors before the top-5 cut, the top-64 keeps ~21.
    // Ground truth is the FILTERED brute-force top-5. One candidates ×
    // probes broadcast cross join; the filtered ranks are running
    // conditional sums over the same two (exact, coarse) score
    // windows, so the whole comparison is one pass — no re-scan per
    // budget. Every score is the shared round(·,4)+id total order.
    // SimRecallSpec pins hits_k64 ≥ hits_k8 (expansion theorem) and
    // the scalar replay.
    "q_sim_filtered" -> ((s, dir) => {
      val e = vectors(s, dir)
        .withColumn("p16", slice(col("v"), 1, 16))
        .withColumn("norm16", norm("p16"))
      val probes = e.where(col("vec_id") < 10).select(
        col("vec_id").as("probe_id"), col("v").as("pv"), col("norm").as("pnorm"),
        col("p16").as("pp16"), col("norm16").as("pnorm16"))
      val wExactRun = perProbe(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.where(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("v"), col("norm"),
          col("p16"), col("norm16"))
        .crossJoin(broadcast(probes))
        .withColumn("keep", expr("neighbor_id % 3 = probe_id % 3"))
        .withColumn("score", cosine("pv", "v", "pnorm", "norm"))
        .withColumn("cscore", cosine("pp16", "p16", "pnorm16", "norm16"))
        .withColumn("crank", row_number().over(perProbe(col("cscore").desc)))
        // filtered ranks as RUNNING CONDITIONAL SUMS over the one exact
        // ordering — rank among survivors without a second scan
        .withColumn("rankF",
          sum(when(col("keep"), 1L).otherwise(0L)).over(wExactRun))
        .withColumn("rank8", sum(when(col("keep") && col("crank") <= 8, 1L)
          .otherwise(0L)).over(wExactRun))
        .withColumn("rank64", sum(when(col("keep") && col("crank") <= 64, 1L)
          .otherwise(0L)).over(wExactRun))
        .where(col("keep") && col("rankF") <= 5)
        .groupBy("probe_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("crank") <= 8 && col("rank8") <= 5, 1L).otherwise(0L))
            .as("hits_k8"),
          sum(when(col("crank") <= 64 && col("rank64") <= 5, 1L).otherwise(0L))
            .as("hits_k64"))
        .orderBy("probe_id")
    }),

    "q_sim_recall" -> ((s, dir) => {
      val e = vectors(s, dir)
        .withColumn("bucket", expr("lsh_bucket(v, 4)"))
        .withColumn("p16", slice(col("v"), 1, 16))
        .withColumn("norm16", norm("p16"))
      val probes = e.where(col("vec_id") < 10).select(
        col("vec_id").as("probe_id"), col("label").as("plabel"),
        col("bucket").as("pbucket"), col("v").as("pv"), col("norm").as("pnorm"),
        col("p16").as("pp16"), col("norm16").as("pnorm16"))
      e.where(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("label"), col("bucket"),
          col("v"), col("norm"), col("p16"), col("norm16"))
        .crossJoin(broadcast(probes))
        .withColumn("score", cosine("pv", "v", "pnorm", "norm"))
        .withColumn("cscore", cosine("pp16", "p16", "pnorm16", "norm16"))
        .withColumn("rank", row_number().over(perProbe(col("score").desc)))
        .withColumn("crank", row_number().over(perProbe(col("cscore").desc)))
        .where(col("rank") <= 5)
        .groupBy("probe_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("bucket") === col("pbucket"), 1L).otherwise(0L)).as("lsh_hits"),
          sum(when(col("label") === col("plabel"), 1L).otherwise(0L)).as("ivf_hits"),
          sum(when(col("crank") <= 64, 1L).otherwise(0L)).as("mrl_hits"))
        .orderBy("probe_id")
    }),

    // Semantic dedup (the SemDeDup recipe, Abbas et al. 2023,
    // arXiv:2303.09540): cluster the embedding corpus with k-means, then
    // prune NEAR-SEMANTIC duplicates only WITHIN each cluster — the
    // published answer to "cosine all-pairs doesn't scale": K grows with
    // the corpus (K ~ N / target-cluster-size), so per-cluster population
    // — and with it the within-cluster pair count — stays bounded while
    // the clustering itself is the linear-time map-side assignment
    // (TextOps.kmeansAssign: centroids ride one broadcast row). Keep
    // policy is the paper's keep-farthest-from-centroid: in every
    // above-threshold pair the member CLOSER to its centroid (the more
    // redundant one) is dropped, ties on the id — a deterministic
    // greedy suppression with a total order, no iteration. All
    // arithmetic exact-integer (fixed-point vectors, integer dot/norms,
    // one IEEE sqrt+divide per pair), so assignments, cosines, and the
    // drop set hash-match the oracle's identical chain.
    "q_dedup_semantic" -> ((s, dir) => {
      val av = TextOps.kmeansAssign(s, dir).withColumn("n2",
        expr("aggregate(transform(fx, x -> x * x), CAST(0 AS BIGINT), " +
          "(acc, x) -> acc + x)"))
      val a = av.select(col("k"), col("vec_id").as("va"), col("fx").as("fa"),
        col("d").as("da"), col("n2").as("na2"))
      val b = av.select(col("k"), col("vec_id").as("vb"), col("fx").as("fb"),
        col("d").as("db"), col("n2").as("nb2"))
      val dot = "aggregate(zip_with(fa, fb, (x, y) -> x * y), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
      val pairs = a.join(b, Seq("k"))
        .where(col("va") < col("vb"))
        .withColumn("cos",
          expr(s"CAST($dot AS DOUBLE) / sqrt(CAST(na2 * nb2 AS DOUBLE))"))
        .where(col("cos") >= 0.4)
      val losers = pairs.select(col("k"),
        when(col("da") > col("db") ||
          (col("da") === col("db") && col("va") < col("vb")),
          col("vb")).otherwise(col("va")).as("dropped"))
        .distinct()
      val members = av.groupBy("k").agg(count(lit(1)).as("n_members"))
      val dupPairs = pairs.groupBy("k").agg(count(lit(1)).as("n_dup_pairs"))
      val drops = losers.groupBy("k").agg(count(lit(1)).as("nd"),
        min("dropped").as("md"))
      members.join(dupPairs, Seq("k"), "left").join(drops, Seq("k"), "left")
        .select(col("k"), col("n_members"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          coalesce(col("nd"), lit(0L)).as("n_dropped"),
          (col("n_members") - coalesce(col("nd"), lit(0L))).as("n_kept"),
          coalesce(col("md"), lit(-1L)).as("min_dropped"))
        .orderBy("k")
    }),

    // Bloom-filter pre-dedup against a reference corpus — THE shape for
    // "drop from the new crawl everything already in the 100 TB training
    // set": the reference side folds to an m-bit filter (here m=4096,
    // k=3 — 63 bits per bit_or'd long (shift <= 62: DuckDB's checked
    // BIGINT shift rejects 1 << 63), built with one map-side-combining
    // aggregate), the filter BROADCASTS (the reference corpus never
    // joins), every new doc probes it map-side, and only the flagged
    // sliver (true dups + the ~(1-e^(-kn/m))^k false-positive rate)
    // reaches the exact md5 semi-join verify. Candidates-then-verify,
    // like the MinHash family — but the candidate state is O(m) bits,
    // independent of the reference corpus's row count. Probe positions
    // are double-hashing h1 + i*h2 (Kirsch-Mitzenmacher) over two md5
    // halves — integer arithmetic identical in both engines, so the
    // filter words, the flag set, and the false-positive count all
    // hash-match. Fixture split: doc_id % 7 == 4 is "already trained"
    // (residue 4 puts four of sf0.1's eight exact-dup pairs across the
    // split, so the verify stage sees real hits, not only FPs).
    "q_dedup_bloom" -> ((s, dir) => {
      val h = Tables(s, dir, "documents").select(col("doc_id"),
          md5(col("text")).as("sig"))
        .withColumn("h1",
          expr("CAST(conv(substr(sig, 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("h2",
          expr("CAST(conv(substr(sig, 9, 8), 16, 10) AS BIGINT) * 2 + 1"))
      def probes(df: DataFrame): DataFrame = df
        .select(col("doc_id"), col("sig"),
          explode(expr("transform(sequence(0, 2), " +
            "i -> pmod(h1 + i * h2, 4096))")).as("pos"))
        .withColumn("word", expr("CAST(pos DIV 63 AS BIGINT)"))
        .withColumn("mask",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))"))
      val block = h.where(col("doc_id") % 7 === 4)
      val newDocs = h.where(col("doc_id") % 7 =!= 4)
      val bloom = probes(block).groupBy("word")
        .agg(bit_or(col("mask")).as("bits"))
      val flagged = probes(newDocs)
        .join(broadcast(bloom), Seq("word"), "left")
        .groupBy("doc_id", "sig")
        .agg(sum(when(expr("(bits & mask) = mask"), 1L).otherwise(0L))
          .as("nh"))
        .where(col("nh") === 3)
      val trueDup = flagged
        .join(block.select("sig").distinct(), Seq("sig"), "left_semi")
      newDocs.agg(count(lit(1)).as("n_new"))
        .crossJoin(flagged.agg(count(lit(1)).as("n_flagged")))
        .crossJoin(trueDup.agg(count(lit(1)).as("n_true_dup")))
        .crossJoin(bloom.agg(big(sum(bit_count(col("bits"))))
          .as("n_set_bits")))
        .select(col("n_new"), col("n_flagged"), col("n_true_dup"),
          (col("n_flagged") - col("n_true_dup")).as("n_false_pos"),
          col("n_set_bits"))
    }),
  )

  private val jaccDuck = "CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
    "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))"

  /** The near-dup oracles' `d` CTE: distinct token lists in (lang,
    * n_chars/50) blocks. */
  private val nearD = "d AS (SELECT doc_id, lang, n_chars // 50 AS bucket, " +
    "list_distinct(string_split(text, ' ')) AS toks FROM documents)"

  /** In-block Jaccard self-join over `d`: pairs ordered by `op` on
    * doc_id with Jaccard >= `thresh`. */
  private def inBlockJaccard(op: String = "<", thresh: String = "0.8"): String =
    "FROM d a JOIN d b ON a.lang = b.lang AND a.bucket = b.bucket " +
    s"AND a.doc_id $op b.doc_id WHERE $jaccDuck >= $thresh"

  /** DuckDB mirror of [[exactTopK]]: CTE `ex` (probe_id, neighbor_id). */
  private val exactTopKDuck = "ex AS (SELECT probe_id, neighbor_id FROM " +
    "(SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, " +
    "row_number() OVER (PARTITION BY p.vec_id ORDER BY " +
    "round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), " +
    "CAST(c.embedding AS DOUBLE[])), 4) DESC, c.vec_id) AS rnk " +
    "FROM embeddings p, embeddings c WHERE p.vec_id < 10 AND c.vec_id >= 10) " +
    "WHERE rnk <= 5)"

  /** DuckDB mirror of [[gradeHits]] over `ex`: per probe, n_exact and
    * one BIGINT hit count per (alias, output, (probe_id, neighbor_id)
    * subquery), each subquery left-joined under its alias. */
  private def gradeHitsDuck(graded: (String, String, String)*): String =
    "SELECT ex.probe_id, count(*) AS n_exact, " +
    graded.map { case (a, out, _) =>
      s"CAST(sum(CASE WHEN $a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS $out"
    }.mkString(", ") + " FROM ex " +
    graded.map { case (a, _, sub) =>
      s"LEFT JOIN ($sub) $a ON ex.probe_id = $a.probe_id AND ex.neighbor_id = $a.neighbor_id "
    }.mkString + "GROUP BY ex.probe_id ORDER BY ex.probe_id"

  /** An ADC ranking CTE's top 5 as a (probe_id, neighbor_id) subquery. */
  private def top5(rk: String): String = s"SELECT probe_id, neighbor_id FROM $rk WHERE rank <= 5"

  /** The MinHash-LSH candidate-pair CTE chain at (`perms`, `bands`),
    * names suffixed with `sfx` so several knob settings can coexist in
    * one statement (the recall oracle grades two). Assumes a CTE `d`
    * with (doc_id, lang, toks) is already in scope. Shared by
    * [[minhashOracle]] so the graded pipeline and the per-knob oracles
    * cannot drift apart.
    */
  private def minhashCandSql(perms: Int, bands: Int, sfx: String): String = {
    val as = graft.functions.MinHashSig.multipliers(perms)
    val mh = (0 until perms).map { i =>
      s"list_min(list_transform(toks, t -> ((${hd("t")} % 2147483647) * ${as(i)} + $i) % 2147483647)) AS mh$i"
    }.mkString(", ")
    val rows = perms / bands
    val bandKeys = (0 until bands).map { b =>
      val els = (0 until rows).map(r => s"mh${b * rows + r}").mkString(", ")
      s"concat_ws(':', lang, $b, $els)"
    }.mkString(", ")
    s"s$sfx AS (SELECT doc_id, lang, toks, $mh FROM d), " +
    s"b$sfx AS (SELECT doc_id, unnest([$bandKeys]) AS band_key FROM s$sfx), " +
    s"c$sfx AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM b$sfx x JOIN b$sfx y " +
    "ON x.band_key = y.band_key AND x.doc_id < y.doc_id GROUP BY 1, 2)"
  }

  /** DuckDB oracle for the banded-MinHash pipeline at (perms, bands) —
    * the same affine hash family (shared multiplier table, so oracle
    * widths beyond the fixture reuse hash i verbatim), band keys, and
    * two-stage candidates→verify shape the Spark side runs.
    */
  private def minhashOracle(perms: Int, bands: Int): String = {
    val j = "CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE) / " +
      "(len(da.toks) + len(db.toks) - len(list_intersect(da.toks, db.toks)))"
    "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks FROM documents), " +
    minhashCandSql(perms, bands, "") + " " +
    s"SELECT doc_a, doc_b, $j AS jacc FROM c " +
    "JOIN d da ON da.doc_id = c.doc_a JOIN d db ON db.doc_id = c.doc_b " +
    s"WHERE $j >= 0.8 ORDER BY doc_a, doc_b"
  }

  /** DuckDB oracle for the SimHash pipeline at signature width `bits`
    * (single-salt widths only, <= 60): the same per-bit majority votes,
    * full pairwise within lang — equal to the Spark side's banded
    * candidates because pigeonhole recall is exact at hamming <= 3.
    */
  private def simhashOracle(bits: Int): String = {
    require(bits <= 60, s"oracle widths beyond 60 bits need the salted second hash")
    val bitsExpr = (0 until bits).map(b =>
      s"(CASE WHEN 2 * len(list_filter(toks, t -> ((${hd("t || '#s'")} >> $b) & 1) = 1)) > len(toks) THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks FROM documents), " +
    s"s AS (SELECT doc_id, lang, CAST($bitsExpr AS BIGINT) AS simhash FROM d) " +
    "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sim_a, " +
    "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
    "FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
    "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY doc_a, doc_b"
  }

  /** DuckDB oracle for the two-level (label, sign-LSH) cosine pairs at
    * `planes` hyperplanes — the SQL chain `lsh_bucket` is bit-identical to.
    */
  private def cosineOracle(planes: Int): String = {
    val bucket = lshBucketExpr(j => s"v[$j]", planes)
    "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
    s"s AS (SELECT vec_id, label, v, $bucket AS bucket FROM e) " +
    "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
    "round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim " +
    "FROM s a JOIN s b ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id " +
    "WHERE list_cosine_similarity(a.v, b.v) >= 0.3 " +
    "ORDER BY vec_a, vec_b"
  }

  def oracles: Map[String, String] = Map(
    "q_dedup_exact" -> ("SELECT min(doc_id) AS canonical_id, md5(text) AS fp, " +
      "count(*) AS n_copies FROM documents GROUP BY text ORDER BY canonical_id"),

    // identical gram hash (the RollingKgramHash polynomial, sum form in
    // HUGEINT), 0-mod-p cut, df cap, and pair threshold
    "q_dedup_substring" -> ("WITH g AS (SELECT DISTINCT doc_id, lang, " +
      s"${rollDuck("sub", 24)} AS h FROM (SELECT doc_id, lang, " +
      "unnest(list_transform(range(1, length(text) - 24 + 2), " +
      "i -> substr(text, i, 24))) AS sub " +
      "FROM documents WHERE length(text) >= 24)), " +
      "fp AS (SELECT * FROM g WHERE h % 8 = 0), " +
      "keep AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 64), " +
      "k AS (SELECT fp.* FROM fp JOIN keep USING (h)) " +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared " +
      "FROM k a JOIN k b ON a.lang = b.lang AND a.h = b.h " +
      "AND a.doc_id < b.doc_id " +
      "GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY doc_a, doc_b"),

    // identical gram hash, identical 0-mod-64 cut rule, identical
    // lag-window chunking and md5 identity
    "q_dedup_cdc" -> ("WITH g AS (SELECT doc_id, lang, text, " +
      "CAST(length(text) AS BIGINT) AS n FROM documents " +
      "WHERE length(text) >= 16), " +
      // the gram-position spine derives per-doc from the data (the
      // q_dedup_substring list-range idiom), not a guessed constant —
      // a longer-doc fixture cannot silently lose cut points past a
      // hard-coded bound, and the spine is O(Σ doc length), never
      // O(docs × max length)
      "hs AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, " +
      s"${rollDuck("substr(text, CAST(i + 1 AS INT), 16)", 16)} AS h " +
      "FROM (SELECT doc_id, text, unnest(range(1, n - 15)) AS i FROM g)), " +
      "cuts AS (SELECT doc_id, pos FROM hs WHERE h % 64 = 0 " +
      "UNION ALL SELECT doc_id, n AS pos FROM g), " +
      "ch AS (SELECT c.doc_id, g.lang, " +
      "md5(substr(g.text, CAST(c.start + 1 AS INT), CAST(c.pos - c.start AS INT))) AS fp, " +
      "CAST(c.pos - c.start AS BIGINT) AS clen FROM " +
      "(SELECT doc_id, pos, lag(pos, 1, 0) OVER " +
      "(PARTITION BY doc_id ORDER BY pos) AS start FROM cuts) c " +
      "JOIN g ON c.doc_id = g.doc_id), " +
      "fpg AS (SELECT lang, fp, CAST(count(*) AS BIGINT) AS copies, " +
      "CAST(min(clen) AS BIGINT) AS clen FROM ch GROUP BY lang, fp) " +
      "SELECT lang, CAST(sum(copies) AS BIGINT) AS n_chunks, " +
      "CAST(count(*) AS BIGINT) AS n_distinct_chunks, " +
      "CAST(sum(copies * clen) AS BIGINT) AS bytes_total, " +
      "CAST(sum(clen) AS BIGINT) AS bytes_unique " +
      "FROM fpg GROUP BY lang ORDER BY lang"),

    "q_dedup_near" -> (s"WITH $nearD " +
      s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jaccDuck AS jacc " +
      s"${inBlockJaccard()} ORDER BY doc_a, doc_b"),

    // the full recompute filtered to delta-touching pairs: with an
    // id-suffix delta, a pair touches the delta iff its max id (doc_b)
    // is past the cut — same integer cut math as the Spark side
    "q_dedup_incremental" -> (s"WITH $nearD " +
      s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jaccDuck AS jacc " +
      s"${inBlockJaccard()} " +
      "AND b.doc_id > (SELECT (4 * max(doc_id)) // 5 FROM documents) " +
      "ORDER BY doc_a, doc_b"),

    // the one-shot batch answer for first-copy-wins: survive iff no
    // smaller-id near-dup anywhere in the corpus (dropped docs still
    // drop others — the signature store is grow-only on the Spark side)
    "q_dedup_ingest" -> (s"WITH $nearD " +
      "SELECT doc_id FROM documents WHERE doc_id NOT IN (" +
      s"SELECT b.doc_id ${inBlockJaccard()}) ORDER BY doc_id"),

    "q_dedup_containment" ->
      ("WITH d AS (SELECT doc_id, lang, " +
        "list_distinct(string_split(text, ' ')) AS toks FROM documents) " +
        "SELECT a.doc_id AS doc_id, count(*) AS n_containers, " +
        "min(b.doc_id) AS min_container, " +
        "CAST(max(len(b.toks)) AS BIGINT) AS max_container_toks " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id <> b.doc_id " +
        "WHERE len(list_intersect(a.toks, b.toks)) = len(a.toks) " +
        "GROUP BY a.doc_id ORDER BY doc_id"),

    "q_dedup_recall" ->
      (s"WITH $nearD, " +
        s"truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b ${inBlockJaccard()}), " +
        minhashCandSql(8, 2, "82") + ", " + minhashCandSql(12, 3, "123") + " " +
        "SELECT * FROM (" +
        "SELECT 'minhash_12x3' AS modality, " +
        "(SELECT count(*) FROM truth) AS n_true, " +
        "(SELECT count(*) FROM c123) AS n_cand, " +
        "(SELECT count(*) FROM truth t JOIN c123 c " +
        "ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit " +
        "UNION ALL SELECT 'minhash_8x2', " +
        "(SELECT count(*) FROM truth), (SELECT count(*) FROM c82), " +
        "(SELECT count(*) FROM truth t JOIN c82 c " +
        "ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)) " +
        "ORDER BY modality"),

    "q_dedup_minhash" -> minhashOracle(8, 2),
    "q_dedup_minhash_banded" -> minhashOracle(12, 3),

    "q_dedup_simhash" -> simhashOracle(16),
    "q_dedup_simhash_wide" -> simhashOracle(24),

    "q_dedup_ngram" -> ("WITH d AS (SELECT doc_id, lang, n_chars // 100 AS bucket, " +
      "list_distinct([substr(text, i, 3) for i in generate_series(1, CAST(length(text) AS INT) - 2)]) AS toks " +
      "FROM documents) " +
      s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jaccDuck AS jacc " +
      s"${inBlockJaccard(thresh = "0.6")} ORDER BY doc_a, doc_b"),

    "q_dedup_cosine" -> cosineOracle(4),
    "q_dedup_cosine_wide" -> cosineOracle(6),

    "q_sim_topk" -> ("SELECT probe_id, rank, neighbor_id, score FROM " +
      "(SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, " +
      "round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS score, " +
      "CAST(row_number() OVER (PARTITION BY p.vec_id ORDER BY " +
      "round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) DESC, c.vec_id) AS BIGINT) AS rank " +
      "FROM embeddings p, embeddings c WHERE p.vec_id < 10 AND c.vec_id >= 10) " +
      "WHERE rank <= 5 ORDER BY probe_id, rank"),

    "q_dedup_cluster" -> (s"WITH RECURSIVE $nearD, " +
      s"e AS (SELECT a.doc_id AS src, b.doc_id AS dst ${inBlockJaccard("<>")}), " +
      "r(id, lbl) AS (SELECT doc_id, doc_id FROM documents " +
      "UNION SELECT e.src, r.lbl FROM r JOIN e ON e.dst = r.id) " +
      "SELECT id AS doc_id, min(lbl) AS component, (id = min(lbl)) AS is_canonical " +
      "FROM r GROUP BY id ORDER BY doc_id"),

    "q_dedup_retention" -> (s"WITH $nearD, " +
      s"p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b ${inBlockJaccard()}), " +
      "q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_dist FROM d), " +
      "e AS (SELECT doc_a AS doc_id, doc_b AS partner FROM p " +
      "UNION ALL SELECT doc_b, doc_a FROM p), " +
      "dom AS (SELECT DISTINCT e.doc_id FROM e " +
      "JOIN q me ON me.doc_id = e.doc_id JOIN q pq ON pq.doc_id = e.partner " +
      "WHERE pq.n_dist > me.n_dist OR (pq.n_dist = me.n_dist AND e.partner < e.doc_id)) " +
      "SELECT q.doc_id, q.n_dist, dom.doc_id IS NULL AS is_kept " +
      "FROM q LEFT JOIN dom ON q.doc_id = dom.doc_id ORDER BY q.doc_id"),

    "q_sim_lsh" -> {
      val bucket = lshBucketExpr(j => s"v[$j]")
      "WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"s AS (SELECT vec_id, v, $bucket AS bucket FROM b) " +
      "SELECT probe_id, rank, neighbor_id, score FROM " +
      "(SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, " +
      "round(list_cosine_similarity(p.v, c.v), 4) AS score, " +
      "CAST(row_number() OVER (PARTITION BY p.vec_id ORDER BY " +
      "round(list_cosine_similarity(p.v, c.v), 4) DESC, c.vec_id) AS BIGINT) AS rank " +
      "FROM s p JOIN s c ON p.bucket = c.bucket AND p.vec_id < 10 AND c.vec_id >= 10) " +
      "WHERE rank <= 3 ORDER BY probe_id, rank"
    },

    "q_sim_quantized" -> ("WITH e AS (SELECT vec_id, " +
      "[CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings), " +
      "s1 AS (SELECT vec_id, v, " +
      "greatest(list_max([abs(x) for x in v]), 1e-9) AS sc FROM e), " +
      "qt AS (SELECT vec_id, sc, " +
      "[CAST(floor(x / sc * 127.0 + 0.5) AS DOUBLE) for x in v] AS q FROM s1), " +
      "scored AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, " +
      "round(list_dot_product(p.q, c.q) * p.sc / 127.0 * c.sc / 127.0, 4) AS score " +
      "FROM qt p JOIN qt c ON p.vec_id < 10 AND c.vec_id >= 10) " +
      "SELECT probe_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, score FROM " +
      "(SELECT probe_id, neighbor_id, score, row_number() OVER " +
      "(PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rnk FROM scored) " +
      "WHERE rnk <= 3 ORDER BY probe_id, rank"),

    // mirrored two-stage recompute: coarse rank over the 16-dim prefix
    // slice, candidates re-joined to full vectors, exact rescore
    "q_sim_mrl" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "pr AS (SELECT vec_id, v FROM e WHERE vec_id < 10), " +
        "ca AS (SELECT vec_id, v FROM e WHERE vec_id >= 10), " +
        "coarse AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(p.v[1:16], c.v[1:16]), 4) AS cscore " +
        "FROM pr p, ca c), " +
        "ck AS (SELECT probe_id, neighbor_id, row_number() OVER " +
        "(PARTITION BY probe_id ORDER BY cscore DESC, neighbor_id) AS crank FROM coarse), " +
        "fine AS (SELECT k.probe_id, k.neighbor_id, " +
        "round(list_cosine_similarity(p.v, c.v), 4) AS score " +
        "FROM ck k JOIN pr p ON k.probe_id = p.vec_id " +
        "JOIN ca c ON k.neighbor_id = c.vec_id WHERE k.crank <= 64), " +
        "rk AS (SELECT probe_id, neighbor_id, score, CAST(row_number() OVER " +
        "(PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank FROM fine) " +
        "SELECT probe_id, rank, neighbor_id, score FROM rk " +
        "WHERE rank <= 5 ORDER BY probe_id, rank"),

    "q_sim_ivf" -> ("SELECT probe_id, rank, neighbor_id, score FROM " +
      "(SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, " +
      "round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS score, " +
      "CAST(row_number() OVER (PARTITION BY p.vec_id ORDER BY " +
      "round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) DESC, c.vec_id) AS BIGINT) AS rank " +
      "FROM embeddings p JOIN embeddings c ON p.label = c.label AND c.vec_id != p.vec_id " +
      "WHERE p.vec_id < 10) " +
      "WHERE rank <= 3 ORDER BY probe_id, rank"),

    // identical trained-quantizer chain: the shared kmeansAssignCtes end
    // in (c1 centroids, a2 assignment); probe buckets are the same
    // integer-distance (d, k) top-2, rescore the same round(·,4) ranking
    "q_sim_ivf_trained" -> (s"WITH ${TextOps.kmeansAssignCtes}, " +
      nearestDuck("pc", 2) + ", " +
      "cand AS (SELECT vec_id AS neighbor_id, k FROM a2 WHERE vec_id >= 10), " +
      "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "scored AS (SELECT pc.probe_id, cand.neighbor_id, " +
      "round(list_cosine_similarity(p.v, c.v), 4) AS score " +
      "FROM pc JOIN cand ON pc.k = cand.k " +
      "JOIN ev p ON p.vec_id = pc.probe_id JOIN ev c ON c.vec_id = cand.neighbor_id), " +
      "rk AS (SELECT probe_id, neighbor_id, score, CAST(row_number() OVER " +
      "(PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank FROM scored) " +
      "SELECT probe_id, rank, neighbor_id, score FROM rk " +
      "WHERE rank <= 3 ORDER BY probe_id, rank"),

    // identical fixed-point/codebook/encode/ADC arithmetic — all-integer,
    // so no rounding boundary anywhere (the final adc_dist CASTs to
    // BIGINT: DuckDB's list_sum widens to HUGEINT, the r14 gate miss)
    "q_sim_pq" -> (s"WITH $pqOracleHead, ${pqOracleChain("", trained = false)} " +
      "SELECT probe_id, rank, neighbor_id, adc_dist FROM rk " +
      "WHERE rank <= 5 ORDER BY probe_id, rank"),

    // identical Lloyd's round (argmin with (d, k) tiebreak, exact-integer
    // update mean, empty clusters keep their seed) feeding the same chain
    "q_sim_pq_trained" -> (s"WITH $pqOracleHead, ${pqOracleChain("", trained = true)} " +
      "SELECT probe_id, rank, neighbor_id, adc_dist FROM rk " +
      "WHERE rank <= 5 ORDER BY probe_id, rank"),

    // identical coarse chain (the shared kmeans CTEs) + the identical
    // residual Lloyd's trainer + per-(probe, bucket) tables + the
    // bucket-equi-joined ADC; adc_dist/rank CAST to BIGINT as ever
    "q_sim_ivfpq" -> (s"WITH ${TextOps.kmeansAssignCtes}, $ivfpqOracleChain " +
      "SELECT probe_id, rank, neighbor_id, adc_dist FROM rkivf " +
      "WHERE rank <= 5 ORDER BY probe_id, rank"),

    // both ADC chains re-derived + the shared exact ranking; hits are
    // integer counts (CAST: sum(int) is HUGEINT in DuckDB)
    "q_sim_recall_pq" -> (s"WITH $pqOracleHead, " +
      s"${TextOps.kmeansChainCtes}, " +
      s"${pqOracleChain("_s", trained = false)}, " +
      s"${pqOracleChain("_t", trained = true)}, " +
      s"$ivfpqOracleChain, $exactTopKDuck " +
      gradeHitsDuck(("rs", "pq_hits", top5("rk_s")),
        ("rt", "pq_trained_hits", top5("rk_t")), ("ri", "ivfpq_hits", top5("rkivf")))),

    // the curve: ONE shared residual-codebook chain, three suffixed
    // nprobe serve chains, the shared exact ranking, three left joins
    "q_sim_recall_curve" -> (s"WITH ${TextOps.kmeansAssignCtes}, " +
      s"${ivfpqCodebookCtes()}, " +
      s"${ivfpqServeCtes("_n1", 1)}, " +
      s"${ivfpqServeCtes("_n2", 2)}, " +
      s"${ivfpqServeCtes("_n4", 4)}, $exactTopKDuck " +
      gradeHitsDuck(Seq(1, 2, 4).flatMap(n => Seq(
        (s"cd$n", s"cand_np$n", s"SELECT p.probe_id, a2.vec_id AS neighbor_id FROM ppc_n$n p " +
          "JOIN a2 ON a2.k = p.k WHERE a2.vec_id >= 10"),
        (s"r$n", s"hits_np$n", top5(s"rkivf_n$n")))): _*)),

    // both codebook chains re-derived (the shared rcand/rsub residual
    // rows, then a 16- and a 256-seed Lloyd's round), two suffixed
    // serve chains with matching table strides, the shared exact ranking
    "q_sim_pq_bits" -> (s"WITH ${TextOps.kmeansAssignCtes}, " +
      s"${ivfpqCodebookCtes()}, " +
      s"${ivfpqCodebookCtes("_b8", 256)}, " +
      s"${ivfpqServeCtes("_k4", 2)}, " +
      s"${ivfpqServeCtes("_k8", 2, "_b8", 256)}, $exactTopKDuck " +
      gradeHitsDuck(("r4", "hits_4bit", top5("rkivf_k4")), ("r8", "hits_8bit", top5("rkivf_k8")))),

    // identical exact/coarse rankings (round(·,4) + id tiebreak) and the
    // 4-plane bucket chain that `lsh_bucket` mirrors; hits are integer counts
    // identical round-4 score grids, identical running conditional
    // window sums for the filtered ranks
    "q_sim_filtered" -> ("WITH e AS (SELECT vec_id, " +
      "CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "pr AS (SELECT * FROM e WHERE vec_id < 10), " +
      "ca AS (SELECT * FROM e WHERE vec_id >= 10), " +
      "scored AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, " +
      "(c.vec_id % 3 = p.vec_id % 3) AS keep, " +
      "round(list_cosine_similarity(p.v, c.v), 4) AS score, " +
      "round(list_cosine_similarity(p.v[1:16], c.v[1:16]), 4) AS cscore " +
      "FROM pr p, ca c), " +
      "rk AS (SELECT *, row_number() OVER (PARTITION BY probe_id " +
      "ORDER BY cscore DESC, neighbor_id) AS crank FROM scored), " +
      "run AS (SELECT *, " +
      "sum(CASE WHEN keep THEN 1 ELSE 0 END) OVER w AS rankf, " +
      "sum(CASE WHEN keep AND crank <= 8 THEN 1 ELSE 0 END) OVER w AS rank8, " +
      "sum(CASE WHEN keep AND crank <= 64 THEN 1 ELSE 0 END) OVER w AS rank64 " +
      "FROM rk WINDOW w AS (PARTITION BY probe_id " +
      "ORDER BY score DESC, neighbor_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact, " +
      "CAST(sum(CASE WHEN crank <= 8 AND rank8 <= 5 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS hits_k8, " +
      "CAST(sum(CASE WHEN crank <= 64 AND rank64 <= 5 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS hits_k64 " +
      "FROM run WHERE keep AND rankf <= 5 " +
      "GROUP BY probe_id ORDER BY probe_id"),

    "q_sim_recall" -> {
      val bucket = lshBucketExpr(j => s"v[$j]", 4)
      "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      s"s AS (SELECT vec_id, label, v, $bucket AS bucket FROM e), " +
      "pr AS (SELECT * FROM s WHERE vec_id < 10), " +
      "ca AS (SELECT * FROM s WHERE vec_id >= 10), " +
      "scored AS (SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, " +
      "round(list_cosine_similarity(p.v, c.v), 4) AS score, " +
      "round(list_cosine_similarity(p.v[1:16], c.v[1:16]), 4) AS cscore, " +
      "(c.bucket = p.bucket) AS lsh_hit, (c.label = p.label) AS ivf_hit " +
      "FROM pr p, ca c), " +
      "rk AS (SELECT *, row_number() OVER (PARTITION BY probe_id " +
      "ORDER BY score DESC, neighbor_id) AS rnk, " +
      "row_number() OVER (PARTITION BY probe_id " +
      "ORDER BY cscore DESC, neighbor_id) AS crank FROM scored) " +
      "SELECT probe_id, count(*) AS n_exact, " +
      "CAST(sum(CASE WHEN lsh_hit THEN 1 ELSE 0 END) AS BIGINT) AS lsh_hits, " +
      "CAST(sum(CASE WHEN ivf_hit THEN 1 ELSE 0 END) AS BIGINT) AS ivf_hits, " +
      "CAST(sum(CASE WHEN crank <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS mrl_hits " +
      "FROM rk WHERE rnk <= 5 GROUP BY probe_id ORDER BY probe_id"
    },

    // the identical kmeans assignment chain (shared CTE prefix), then the
    // identical intra-cluster integer-cosine pairs and keep-farthest drop
    "q_dedup_semantic" -> (s"WITH ${TextOps.kmeansAssignCtes}, " +
      "av AS (SELECT a2.vec_id, a2.k, a2.d, e.fx AS fx, " +
      "list_sum([ e.fx[i+1] * e.fx[i+1] for i in range(64) ]) AS n2 " +
      "FROM a2 JOIN e ON a2.vec_id = e.vec_id), " +
      "dp AS (SELECT a.k AS k, a.vec_id AS va, b.vec_id AS vb, " +
      "a.d AS da, b.d AS db " +
      "FROM av a JOIN av b ON a.k = b.k AND a.vec_id < b.vec_id " +
      "WHERE CAST(list_sum([ a.fx[i+1] * b.fx[i+1] for i in range(64) ]) " +
      "AS DOUBLE) / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) >= 0.4), " +
      "dr AS (SELECT DISTINCT k, CASE WHEN da > db OR (da = db AND va < vb) " +
      "THEN vb ELSE va END AS dropped FROM dp), " +
      "mem AS (SELECT k, count(*) AS n_members FROM a2 GROUP BY k), " +
      "pp AS (SELECT k, count(*) AS n_dup_pairs FROM dp GROUP BY k), " +
      "dd AS (SELECT k, count(*) AS nd, min(dropped) AS md FROM dr GROUP BY k) " +
      "SELECT mem.k, mem.n_members, " +
      "coalesce(pp.n_dup_pairs, 0) AS n_dup_pairs, " +
      "coalesce(dd.nd, 0) AS n_dropped, " +
      "mem.n_members - coalesce(dd.nd, 0) AS n_kept, " +
      "coalesce(dd.md, -1) AS min_dropped " +
      "FROM mem LEFT JOIN pp ON mem.k = pp.k " +
      "LEFT JOIN dd ON mem.k = dd.k ORDER BY mem.k"),

    // identical double-hash probe positions, 64-long filter words, flag
    // set, and exact-verify split
    "q_dedup_bloom" -> ("WITH h AS (SELECT doc_id, md5(text) AS sig, " +
      "CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS h1, " +
      "CAST(concat('0x', substr(md5(text), 9, 8)) AS BIGINT) * 2 + 1 AS h2 " +
      "FROM documents), " +
      "bp AS (SELECT unnest([ (h1 + i * h2) % 4096 for i in range(3) ]) AS pos " +
      "FROM h WHERE doc_id % 7 = 4), " +
      "bloom AS (SELECT pos // 63 AS word, " +
      "bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits " +
      "FROM bp GROUP BY 1), " +
      "np AS (SELECT doc_id, sig, " +
      "unnest([ (h1 + i * h2) % 4096 for i in range(3) ]) AS pos " +
      "FROM h WHERE doc_id % 7 <> 4), " +
      "pr AS (SELECT np.doc_id, np.sig, " +
      "CASE WHEN (bloom.bits & (CAST(1 AS BIGINT) << CAST(np.pos % 63 AS INT))) = " +
      "(CAST(1 AS BIGINT) << CAST(np.pos % 63 AS INT)) THEN 1 ELSE 0 END AS hit " +
      "FROM np LEFT JOIN bloom ON np.pos // 63 = bloom.word), " +
      "fl AS (SELECT doc_id, sig FROM pr GROUP BY doc_id, sig " +
      "HAVING sum(hit) = 3), " +
      "nn AS (SELECT count(*) AS n_new FROM h WHERE doc_id % 7 <> 4), " +
      "nf AS (SELECT count(*) AS n_flagged FROM fl), " +
      "nt AS (SELECT count(*) AS n_true_dup FROM fl WHERE sig IN " +
      "(SELECT sig FROM h WHERE doc_id % 7 = 4)), " +
      "sb AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS n_set_bits " +
      "FROM bloom) " +
      "SELECT n_new, n_flagged, n_true_dup, " +
      "n_flagged - n_true_dup AS n_false_pos, n_set_bits " +
      "FROM nn, nf, nt, sb"),
  )
}
