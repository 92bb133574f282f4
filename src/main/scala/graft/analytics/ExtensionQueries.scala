package graft.analytics

import graft.Tables._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Decontaminate, Dedup, Multimodal, Packing, Retrieval, Sampling, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-star training-data-pipeline operators (builder prompt +
  * SURVEY §2.3): text analysis (tx*), deduplication (dd*), similarity
  * search (ss*), multimodal (mm*).
  *
  * Oracle coverage: everything expressible in DuckDB SQL carries an
  * oracle. The verify-stage pipelines (dd04 Jaccard, dd06 cosine, dd07
  * clusters) carry DIFFERENTIAL oracles — DuckDB computes the exact
  * all-pairs answer, Spark the scalable LSH block-then-verify; a hash
  * match proves the blocking lost nothing on this corpus. The sketch
  * families themselves (dd02 minhash, dd03 simhash) use fully-portable
  * polynomial/quadratic hash arithmetic, so their oracles are EXACT
  * replicas — DuckDB rebuilds the identical signatures and candidate
  * sets; the stub media codec's IEEE-pinned arithmetic gives mm02 the
  * same treatment, and ss02's seeded hyperplanes are interpolated into
  * its oracle as roundtrip double literals. ss03's whole IVF pipeline —
  * portable-hash seed selection, one Lloyd round with an order-
  * deterministic sorted-fold mean, cell probe, exact rescore — is
  * likewise replayed exactly in SQL (the codebook became oracle-able
  * once the mean stopped depending on shuffle order).
  */
object ExtensionQueries {

  // ---------------- text analysis ----------------

  private def tx01(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(TF.tokenCount(col("text")).cast("double")), 6).as("avg_tokens"),
        max(TF.tokenCount(col("text"))).as("max_tokens"),
        sum(TF.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy(col("lang"))

  private val tx01Sql =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens,
      |  CAST(max(len(string_split(text, ' '))) AS INTEGER) AS max_tokens,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  private def tx02(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        stableRound6(TF.avgTokenLen(col("text"))).as("avg_token_len"),
        stableRound6(TF.stopwordRatio(col("text"))).as("stop_ratio"),
        stableRound6(TF.qualityScore(col("text"))).as("quality"))
      .orderBy(col("doc_id"))

  private val tx02Sql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |  floor(((length(text) - (len(string_split(text, ' ')) - 1)) / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS avg_token_len,
      |  floor((len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
      |  floor((least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
      |      + (len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.3
      |      + least(((length(text) - (len(string_split(text, ' ')) - 1)) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 10.0, 1.0) * 0.2) * 1000000.0 + 0.5) / 1000000.0 AS quality
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  private def tx03(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"), TF.langId(col("text")).as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))

  private val tx03Sql =
    """WITH scored AS (
      |  SELECT lang,
      |    len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of')) AS s_en,
      |    len(list_filter(string_split(text, ' '), x -> x = 'data' OR x = 'table' OR x = 'row' OR x = 'column')) AS s_db,
      |    len(list_filter(string_split(text, ' '), x -> x = 'query' OR x = 'join' OR x = 'filter' OR x = 'sort')) AS s_qy
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN s_en >= s_db AND s_en >= s_qy THEN 'en'
      |       WHEN s_db >= s_qy THEN 'db' ELSE 'qy' END AS predicted,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM scored
      |GROUP BY 1, 2
      |ORDER BY lang, predicted""".stripMargin

  /** tx04 — portable document fingerprint: fully-specified polynomial
    * arithmetic (TextFunctions.fingerprint), so the oracle reproduces it
    * bit-for-bit in SQL — the point of a fingerprint is cross-system
    * identity. */
  private def tx04(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  private val tx04Sql =
    """SELECT doc_id, CAST(
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(text, ' '),
      |      t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
      |           (a, c) -> (a*31 + c) % 1000000007))),
      |    (acc, h) -> (acc*131 + h) % 1000000007) AS BIGINT) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  private def tx05(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  private val tx05Sql =
    """SELECT token, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token
      |ORDER BY n DESC, token
      |LIMIT 20""".stripMargin

  /** tx06 — BPE-ish tokenization next to whitespace tokens: letter runs,
    * digit runs, and single non-alnum marks (the character-class shape of
    * subword pre-tokenizers), counted with a regex both engines share.
    * The synthetic corpus is pure letter words, so a doc-id suffix with
    * punctuation/digits is appended to exercise the split classes
    * (`... rev-<id>.` → 1 whitespace token but 4 BPE-ish tokens). */
  private def tx06(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"),
        concat(col("text"), lit(" rev-"), col("doc_id").cast("string"), lit(".")).as("t2"))
      .select(col("lang"),
        TF.tokenCount(col("t2")).cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(t2, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
          .cast("long").as("bpe_tokens"))
      .groupBy(col("lang"))
      .agg(sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("bpe_tokens")).as("bpe_tokens"))
      .orderBy(col("lang"))

  private val tx06Sql =
    """WITH t AS (SELECT lang,
      |  concat(text, ' rev-', CAST(doc_id AS VARCHAR), '.') AS t2 FROM documents)
      |SELECT lang,
      |  CAST(sum(len(string_split(t2, ' '))) AS BIGINT) AS ws_tokens,
      |  CAST(sum(len(regexp_extract_all(t2, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS bpe_tokens
      |FROM t
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** tx07 — bigram language-model scoring: train bigram/unigram counts
    * on the corpus itself, score each document by its average bigram
    * log-probability ln P(w2|w1) = ln C(w1 w2) - ln C(w1). The standard
    * LM-quality filter for training-data pipelines, as two aggregations
    * + two broadcast-ish joins — no state beyond the model tables. */
  private def tx07(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bigrams = docs.select(col("doc_id"),
      explode(TF.shingles(col("text"), 2)).as("bigram"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val bigramCounts = bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
    val unigramCounts = docs
      .select(explode(TF.tokens(col("text"))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    // model tables are vocab-sized (tiny even at corpus scale) → broadcast,
    // so scoring stays a narrow pass over the exploded bigrams
    bigrams
      .join(broadcast(bigramCounts), "bigram")
      .join(broadcast(unigramCounts), "w1")
      .groupBy(col("doc_id"))
      .agg(round(avg(log(col("cb").cast("double")) - log(col("cu").cast("double"))), 6)
        .as("avg_logprob"),
        count(lit(1)).as("n_bigrams"))
      .orderBy(col("doc_id"))
  }

  private val tx07Sql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_filter(
      |    list_transform(list_zip(t, t[2:]),
      |      s -> CASE WHEN s[2] IS NULL THEN NULL ELSE s[1] || ' ' || s[2] END),
      |    x -> x IS NOT NULL)) AS bigram
      |  FROM toks),
      |bg2 AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM bg),
      |bc AS (SELECT bigram, count(*) AS cb FROM bg2 GROUP BY bigram),
      |uc AS (SELECT unnest(string_split(text, ' ')) AS w1 FROM documents),
      |ucc AS (SELECT w1, count(*) AS cu FROM uc GROUP BY w1)
      |SELECT doc_id,
      |  round(avg(ln(CAST(cb AS DOUBLE)) - ln(CAST(cu AS DOUBLE))), 6) AS avg_logprob,
      |  CAST(count(*) AS BIGINT) AS n_bigrams
      |FROM bg2 JOIN bc USING (bigram) JOIN ucc USING (w1)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** tx08 — TF-IDF: highest-scoring term per document. Term frequency is
    * a hash agg over one token explode; document frequency and the corpus
    * size are vocab-/scalar-sized side tables → broadcast, so scoring
    * stays a narrow pass. Ranking orders by the ROUNDED score (6dp) so
    * the cross-engine tie-break is deterministic (raw ln() ulps must not
    * decide ranks). */
  private def tx08(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
    val tok = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
    val dfreq = tok.groupBy(col("token")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("nn"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    tf.join(broadcast(dfreq), "token")
      .join(broadcast(n))
      .withColumn("tfidf",
        round(col("c") * log(col("nn").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("token").as("top_term"), col("tfidf"))
      .orderBy(col("doc_id"))
  }

  private val tx08Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT count(*) AS nn FROM documents),
      |scored AS (
      |  SELECT doc_id, token,
      |    round(c * ln(CAST(nn AS DOUBLE) / df), 6) AS tfidf
      |  FROM tf JOIN df USING (token) CROSS JOIN n)
      |SELECT doc_id, token AS top_term, tfidf
      |FROM (SELECT doc_id, token, tfidf,
      |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
      |      FROM scored)
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  /** tx09 — Gopher-style repetition signals: the fraction of bigram
    * instances that are repeats and the share of the single most
    * frequent bigram, per document. These are the within-document
    * quality filters (Rae et al., Gopher §A1.1) that catch boilerplate
    * and degenerate repetition which cross-document dedup cannot see.
    * Shape: one bigram explode + two hash-aggs — partial aggregation
    * does the heavy lifting map-side, nothing is per-document state. */
  private def tx09(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(TF.shingles(col("text"), 2)).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max(col("n")).as("top_n"))
      .select(col("doc_id"), col("n_bigrams"),
        stableRound6(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"))
          .as("dup_frac"),
        stableRound6(col("top_n").cast("double") / col("n_bigrams")).as("top_frac"))
      .orderBy(col("doc_id"))

  private val tx09Sql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |         i -> t[i] || ' ' || t[i+1])) AS b FROM toks),
      |cnt AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
      |  floor((1.0 - count(*)/CAST(sum(n) AS DOUBLE)) * 1000000.0 + 0.5)/1000000.0 AS dup_frac,
      |  floor((max(n)/CAST(sum(n) AS DOUBLE)) * 1000000.0 + 0.5)/1000000.0 AS top_frac
      |FROM cnt GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** sp01 — deterministic stratified sampling toward a target language
    * mix ([[Sampling.stratifiedSample]]): keep a per-lang hash-bucket
    * fraction of documents. Membership is a pure function of doc_id
    * (portable hash), so the oracle recomputes the EXACT sample — the
    * reproducibility property `sample()`-style randomness cannot give a
    * resumable training pipeline. */
  private def sp01(s: SparkSession, d: String): DataFrame = {
    val mix = Map("en" -> 0.5, "de" -> 1.0, "es" -> 0.25, "fr" -> 0.75, "zh" -> 0.1)
    Sampling.stratifiedSample(documents(s, d), "doc_id", "lang", mix)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
  }

  /** sp05 — temperature-scaled mixture sampling
    * ([[Sampling.temperatureSample]], α = 0.5, target = half the
    * corpus): per-language kept counts and id extremes plus the derived
    * bucket cutoff — the threshold column pins the entire weight /
    * budget / integer-division chain, not just the survivor set. The
    * oracle replays the √n weighting (IEEE sqrt is correctly rounded in
    * both engines — the reason α is fixed at 0.5) and the all-integer
    * budget math over the same portable buckets. */
  private def sp05(s: SparkSession, d: String): DataFrame =
    Sampling.temperatureSample(documents(s, d), "doc_id", "lang", targetFrac = 0.5)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))

  private val sp05Sql =
    s"""WITH $spBucketCte,
       |stats AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l,
       |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1048576.0) AS BIGINT) AS w
       |  FROM documents GROUP BY lang),
       |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw,
       |    CAST(sum(n_l) AS BIGINT) AS total FROM stats),
       |th AS (SELECT lang,
       |    least((10000 * ((((CAST(total AS HUGEINT) * 500000) // 1000000)
       |        * CAST(w AS HUGEINT)) // sw)) // n_l,
       |      10000) AS cut
       |  FROM stats CROSS JOIN tot),
       |kept AS (SELECT b.doc_id, b.lang FROM b JOIN th USING (lang)
       |  WHERE b.bucket < th.cut)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM kept GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** sp06 — LEAKAGE-SAFE split ([[Sampling.leakageSafeSplit]]): the
    * corpus is augmented with exact copies of the first 100 docs under
    * fresh ids (the dd02 augmentation discipline — the raw synthetic
    * corpus has no duplicates), then split with the hash keyed on each
    * duplicate cluster's representative. An id-keyed split would strand
    * copies on opposite sides of train/val (the ids hash independently);
    * here every copy follows its representative, and the oracle replays
    * the representative election + portable hash exactly, so the
    * per-split doc/cluster counts pin the membership. */
  private def sp06(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val aug = docs.unionByName(docs.filter(col("doc_id") < 100)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Sampling.leakageSafeSplit(aug, "doc_id", md5(col("text")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_clusters"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("split"))
  }

  private val sp06Sql: String = {
    val (a, b, c) = Sampling.MixConsts
    val P = 1000000007L
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 100),
       |fp AS (SELECT doc_id, md5(text) AS fp FROM aug),
       |rep AS (SELECT fp, min(doc_id) AS rep FROM fp GROUP BY fp),
       |rb AS (SELECT fp,
       |  (($a*((h*h) % $P) + $b*h + $c) % $P) % 10000 AS bucket
       |  FROM (SELECT fp, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length(CAST(rep AS VARCHAR))+1),
       |        i -> CAST(ascii(CAST(rep AS VARCHAR)[i]) AS BIGINT))),
       |      (a, c) -> (a*31 + c) % $P) AS h FROM rep)),
       |j AS (SELECT f.doc_id, f.fp,
       |  CASE WHEN rb.bucket < 500 THEN 'val' WHEN rb.bucket < 1000 THEN 'test'
       |       ELSE 'train' END AS split
       |  FROM fp f JOIN rb USING (fp))
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT fp) AS BIGINT) AS n_clusters,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM j GROUP BY split
       |ORDER BY split""".stripMargin
  }

  /** sp07 — systematic PPS sampling ([[Sampling.ppsSample]]): ~10 docs
    * per language with inclusion probability ∝ n_chars — the weighted
    * draw a mixture builder uses when long documents should anchor the
    * sample. The oracle replays the whole scheme — portable
    * hash-shuffled order, integer cumsum, ⌊cum·k/W⌋ point-crossing — as
    * one window cumsum (associativity makes Spark's bucket-decomposed
    * cumsum equal it exactly), so membership is pinned bit-for-bit. */
  private def sp07(s: SparkSession, d: String): DataFrame =
    Sampling.ppsSample(
        documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "lang", "n_chars", k = 10)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("doc_id"))

  private val sp07Sql =
    s"""WITH $spBucketCte,
       |o AS (SELECT d.doc_id, d.lang, d.n_chars, b.bucket
       |  FROM documents d JOIN b USING (doc_id, lang)),
       |c AS (SELECT doc_id, lang, n_chars,
       |    sum(n_chars) OVER (PARTITION BY lang ORDER BY bucket, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(n_chars) OVER (PARTITION BY lang) AS tot
       |  FROM o)
       |SELECT lang, doc_id, n_chars FROM c
       |WHERE (cum * 10) // tot > ((cum - n_chars) * 10) // tot
       |ORDER BY lang, doc_id""".stripMargin

  /** sp08 — deterministic epoch shuffle ([[Sampling.epochShuffled]]):
    * the first 20 documents of the training order for epochs 0..2.
    * Each epoch is a DIFFERENT full permutation of the corpus, yet a
    * pure function of (doc_id, epoch) — resumable dataloading with
    * cross-engine replayable order, vs. `orderBy(rand(seed))` whose
    * results shift with partition layout. The `limit` collapses the
    * global sort into a distributed TakeOrdered per epoch (no full
    * sort materializes); the oracle replays the seeded quadratic mix
    * per epoch and ranks with one window. */
  private def sp08(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val epochs = (0 to 2).map { e =>
      Sampling.epochShuffled(
          documents(s, d).select(col("doc_id")), "doc_id", e)
        .limit(20)
        .withColumn("epoch", lit(e))
        .withColumn("pos", row_number().over(Window.partitionBy(lit(e))
          .orderBy(Sampling.epochOrderKey(col("doc_id"), e), col("doc_id"))))
    }
    epochs.reduce(_ unionByName _)
      .select(col("epoch"), col("pos"), col("doc_id"))
      .orderBy(col("epoch"), col("pos"))
  }

  private val sp08Sql: String = {
    val P = 1000000007L
    val epochCtes = (0 to 2).map { e =>
      val (a, b, c) = graft.operators.Dedup.seedConsts(2001 + e)
      s"""e$e AS (SELECT $e AS epoch,
         |    CAST(row_number() OVER (ORDER BY (($a*((h*h) % $P) + $b*h + $c) % $P), doc_id)
         |      AS INTEGER) AS pos, doc_id
         |  FROM hsh
         |  ORDER BY (($a*((h*h) % $P) + $b*h + $c) % $P), doc_id LIMIT 20)"""
    }.mkString(",\n")
    s"""WITH hsh AS (SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
       |        i -> CAST(ascii(CAST(doc_id AS VARCHAR)[i]) AS BIGINT))),
       |      (a, c) -> (a*31 + c) % $P) AS h
       |  FROM documents),
       |$epochCtes
       |SELECT epoch, pos, doc_id FROM (
       |  SELECT * FROM e0 UNION ALL SELECT * FROM e1 UNION ALL SELECT * FROM e2)
       |ORDER BY epoch, pos""".stripMargin
  }

  /** tx10 — inverted-index postings build: per term, document frequency,
    * total posting count, and the first 20 `(doc_id:pos)` postings in
    * global (doc_id, pos) order — the retrieval-layer structure a corpus
    * engine feeds to search/dedup tooling.
    *
    * Scale shape: stats come from two bounded hash-aggs (shuffle on
    * (term, doc_id), then term — partial aggregation map-side, O(1)
    * group state, no postings buffered). The head postings NEVER window
    * over a term's full posting stream: the per-term window first ranks
    * the NARROW (term, doc_id) rows to pick the first ≤20 documents, a
    * semi-join shrinks the token stream to those documents, and only
    * that bounded slice is sorted — so a stop-word's task carries df
    * narrow rows plus ≤20 documents' tokens, not its full (potentially
    * corpus-sized) posting list. Collected head arrays are capped at 20
    * entries by construction. */
  private def tx10(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents(s, d)
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("pos", "term")))
    val byDoc = toks.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("cnt"))
    val stats = byDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("cnt")).as("n_postings"))
    val headDocs = byDoc
      .withColumn("dr", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("doc_id"))))
      .filter(col("dr") <= 20)
      .select(col("term"), col("doc_id"))
    val heads = toks.join(headDocs, Seq("term", "doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("doc_id"), col("pos"))))
      .filter(col("rn") <= 20)
      .groupBy(col("term"))
      .agg(concat_ws(",", transform(
        array_sort(collect_list(struct(col("doc_id"), col("pos")))),
        e => concat(e.getField("doc_id").cast("string"), lit(":"),
          e.getField("pos").cast("string")))).as("head_postings"))
    stats.join(heads, "term")
      .select(col("term"), col("df"), col("n_postings"), col("head_postings"))
      .orderBy(col("df").desc, col("term"))
      .limit(100)
  }

  private val tx10Sql =
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
      |toks AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(s) + 1), i -> i - 1)) AS pos,
      |    unnest(s) AS term
      |  FROM sp),
      |bydoc AS (SELECT term, doc_id, count(*) AS cnt FROM toks GROUP BY term, doc_id),
      |stats AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df,
      |    CAST(sum(cnt) AS BIGINT) AS n_postings
      |  FROM bydoc GROUP BY term),
      |ranked AS (
      |  SELECT term, doc_id, pos,
      |    row_number() OVER (PARTITION BY term ORDER BY doc_id, pos) AS rn
      |  FROM toks),
      |heads AS (
      |  SELECT term,
      |    string_agg(doc_id || ':' || pos, ',' ORDER BY doc_id, pos) AS head_postings
      |  FROM ranked WHERE rn <= 20 GROUP BY term)
      |SELECT term, df, n_postings, head_postings
      |FROM stats JOIN heads USING (term)
      |ORDER BY df DESC, term
      |LIMIT 100""".stripMargin

  /** tx11 — PII detection + redaction: per language, documents with
    * planted contact strings, total email/phone hits, and a value-level
    * fingerprint (md5) of every redacted text — the scrubbing pass a
    * training corpus runs before anything else. The synthetic corpus
    * carries no PII, so (tx06-style) each doc with `doc_id mod 3 = 0`
    * plants a deterministic email and each with `doc_id mod 4 = 0` a
    * phone number; patterns use RE2-safe character classes only (no
    * lookarounds/backrefs), so Spark's Java regex and DuckDB's RE2
    * match identically. Shape: narrow row-local regex map + one
    * hash-agg. The redacted-output fingerprint is the exact SUM of each
    * doc hash's 60-bit prefix (md5 → 15 hex digits → integer): integer
    * addition is associative, so the check is order-insensitive with
    * O(1) aggregation state — nothing is collected per group. */
  private def tx11(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" call +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")))
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    val phonePat = "\\+1-555-[0-9][0-9][0-9][0-9]"
    documents(s, d)
      .select(col("lang"), col("doc_id"), planted.as("t2"))
      .select(col("lang"),
        regexp_count(col("t2"), lit(emailPat)).cast("long").as("n_emails"),
        regexp_count(col("t2"), lit(phonePat)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t2"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>")).as("h"))
      .groupBy(col("lang"))
      .agg(sum((col("n_emails") > 0 || col("n_phones") > 0).cast("long")).as("docs_with_pii"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"),
        sum(conv(substring(col("h"), 1, 15), 16, 10).cast("decimal(38,0)"))
          .cast("string").as("redacted_fingerprint"))
      .orderBy(col("lang"))
  }

  private val tx11Sql =
    """WITH t AS (SELECT lang,
      |  concat(text,
      |    CASE WHEN doc_id % 3 = 0
      |      THEN concat(' contact u', CAST(doc_id AS VARCHAR), '@mail.example.com')
      |      ELSE '' END,
      |    CASE WHEN doc_id % 4 = 0
      |      THEN concat(' call +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
      |      ELSE '' END) AS t2
      |  FROM documents),
      |p AS (SELECT lang,
      |  len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS n_emails,
      |  len(regexp_extract_all(t2, '\+1-555-[0-9][0-9][0-9][0-9]')) AS n_phones,
      |  md5(regexp_replace(regexp_replace(t2,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
      |    '\+1-555-[0-9][0-9][0-9][0-9]', '<PHONE>', 'g')) AS h
      |  FROM t)
      |SELECT lang,
      |  CAST(sum(CASE WHEN n_emails > 0 OR n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
      |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
      |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
      |  CAST(sum(list_sum(list_transform(range(1, 16), i ->
      |    CAST(strpos('0123456789abcdef', substring(h, CAST(i AS INT), 1)) - 1 AS HUGEINT)
      |    * CAST(power(16, 15 - CAST(i AS INT)) AS HUGEINT)))) AS VARCHAR) AS redacted_fingerprint
      |FROM p
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** tx12 — feature-hashed bag-of-words (the "hashing trick"): each
    * token lands in bucket `stringHash(t) mod 8` with sign ±1 from hash
    * bit 4, and a document's embedding is the signed bucket-count
    * vector — the classic fixed-width featurizer that needs NO
    * vocabulary pass, which is what makes it usable on a 100 TB corpus
    * (one explode + one partial-aggregated keyed shuffle; per-group
    * state is 8 longs). Signs make collisions cancel in expectation
    * (Weinberger et al., ICML'09). All-integer arithmetic on the
    * portable base-31 hash, so the oracle replays it exactly; features
    * emitted as one column per bucket — the narrow-relational form the
    * driver hash understands, convertible to `array(f0..f7)` in one
    * narrow map when a vector consumer (ss01's cosine) wants it. */
  private def tx12(s: SparkSession, d: String): DataFrame = {
    val dim = 8
    val toks = documents(s, d)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("t"))
      .select(col("doc_id"), TF.stringHash(col("t")).as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(dim)).as("b"),
        when(shiftright(col("h"), 4).bitwiseAND(lit(1L)) === 1, lit(1L))
          .otherwise(lit(-1L)).as("s"))
    val feats = (0 until dim).map(j =>
      coalesce(sum(when(col("b") === j, col("s"))), lit(0L)).as(s"f$j"))
    toks.groupBy(col("doc_id")).agg(feats.head, feats.tail: _*)
      .orderBy(col("doc_id"))
  }

  private val tx12Sql: String = {
    val feats = (0 until 8).map(j =>
      s"  CAST(coalesce(sum(CASE WHEN b = $j THEN s END), 0) AS BIGINT) AS f$j")
      .mkString(",\n")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents),
       |h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
       |    (a, c) -> (a*31 + c) % 1000000007) AS h FROM tok),
       |bs AS (SELECT doc_id, h % 8 AS b,
       |    CASE WHEN ((h >> 4) & 1) = 1 THEN 1 ELSE -1 END AS s FROM h)
       |SELECT doc_id,
       |$feats
       |FROM bs GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** pl01 — the composed corpus-cleaning pipeline, end to end: language
    * filter (drop docs language-ID'd as the 'en' marker class) → quality
    * threshold → exact dedup (canonical min doc_id per content
    * fingerprint) → deterministic 70% hash sample. Every stage is an
    * operator oracled on its own elsewhere (tx03, tx02, tx04, sp01);
    * this query pins that they COMPOSE — filters stay narrow maps, the
    * dedup is one keyed shuffle on the fingerprint, the sample is a
    * pure row-local predicate, and membership in the final corpus is a
    * pure function of the document bytes, reproducible in any engine.
    * That end-to-end determinism is the property a 100 TB cleaning run
    * actually needs: re-running any shard yields the same kept set. */
  private def pl01(s: SparkSession, d: String): DataFrame = {
    val scored = documents(s, d).select(col("doc_id"), col("lang"), col("text"),
      TF.qualityScore(col("text")).as("q"),
      TF.langId(col("text")).as("pred"),
      TF.fingerprint(col("text")).as("fp"))
    val kept = scored.filter(col("pred") =!= "en" && col("q") >= 0.35)
    val canon = kept.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val deduped = kept.join(canon, Seq("fp", "doc_id"))
    Sampling.hashSample(deduped, "doc_id", 0.7)
      .select(col("doc_id"), col("lang"), col("pred"),
        TF.tokenCount(col("text")).as("n_tokens"),
        stableRound6(col("q")).as("quality"))
      .orderBy(col("doc_id"))
  }

  private val pl01Sql =
    s"""WITH $spBucketCte,
       |sc AS (SELECT d.doc_id, d.lang, d.text, b.bucket,
       |  least(len(string_split(d.text, ' ')) / 100.0, 1.0) * 0.5
       |    + (len(list_filter(string_split(d.text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) / CAST(len(string_split(d.text, ' ')) AS DOUBLE)) * 0.3
       |    + least(((length(d.text) - (len(string_split(d.text, ' ')) - 1)) / CAST(len(string_split(d.text, ' ')) AS DOUBLE)) / 10.0, 1.0) * 0.2 AS q,
       |  CASE WHEN len(list_filter(string_split(d.text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of')) >= len(list_filter(string_split(d.text, ' '), x -> x = 'data' OR x = 'table' OR x = 'row' OR x = 'column'))
       |        AND len(list_filter(string_split(d.text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of')) >= len(list_filter(string_split(d.text, ' '), x -> x = 'query' OR x = 'join' OR x = 'filter' OR x = 'sort'))
       |       THEN 'en'
       |       WHEN len(list_filter(string_split(d.text, ' '), x -> x = 'data' OR x = 'table' OR x = 'row' OR x = 'column')) >= len(list_filter(string_split(d.text, ' '), x -> x = 'query' OR x = 'join' OR x = 'filter' OR x = 'sort'))
       |       THEN 'db' ELSE 'qy' END AS pred,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(d.text, ' '),
       |      t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
       |           (a, c) -> (a*31 + c) % 1000000007))),
       |    (acc, h) -> (acc*131 + h) % 1000000007) AS fp
       |  FROM documents d JOIN b USING (doc_id)),
       |kept AS (SELECT * FROM sc WHERE pred <> 'en' AND q >= 0.35),
       |cn AS (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp),
       |dd AS (SELECT k.* FROM kept k JOIN cn ON cn.fp = k.fp AND cn.doc_id = k.doc_id),
       |samp AS (SELECT * FROM dd WHERE bucket < 7000)
       |SELECT doc_id, lang, pred,
       |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       |  floor(q * 1000000.0 + 0.5) / 1000000.0 AS quality
       |FROM samp ORDER BY doc_id""".stripMargin

  /** The portable document fingerprint as a DuckDB expression over an
    * arbitrary text SQL expression (tx04's arithmetic, reused by the
    * sketch oracles below). Single-line fragments so stripMargin on the
    * enclosing query can't eat pieces of them. */
  private def fpSqlOf(textExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($textExpr, ' '), " +
      s"t -> list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))), " +
      s"(a, c) -> (a*31 + c) % 1000000007))), " +
      s"(acc, h) -> (acc*131 + h) % 1000000007)"

  /** One [[Dedup.probePositions]] slot as a DuckDB expression:
    * quadratic-mix hash of `e` under `seed`, reduced mod `bits`. */
  private def probePosSqlOf(e: String, bits: Int, seed: Int): String = {
    val (a, b, c) = Dedup.seedConsts(seed)
    s"((($a*((($e)*($e)) % 1000000007) + $b*($e) + $c) % 1000000007) % $bits)"
  }

  /** dd10 — Bloom-filter corpus membership ([[Dedup.bloomMembership]]):
    * the filter built from every corpus fingerprint, probed with a mix
    * of true members (even doc_ids) and planted non-members (texts with
    * a ` zz` suffix, offset ids). Output classifies probes by
    * (bloom_pass, is_member) — the (false, true) class MUST be absent
    * (no false negatives; BloomSpec pins it), the (true, false) row
    * sizes the deterministic false-positive cost of 4096 bits. The
    * oracle rebuilds filter and probes from the same interpolated
    * constants, so both engines agree on every individual verdict. */
  private def dd10(s: SparkSession, d: String): DataFrame = {
    val fps = documents(s, d)
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
    val probes = fps.filter(col("doc_id") % 2 === 0)
      .union(documents(s, d).filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          TF.fingerprint(concat(col("text"), lit(" zz"))).as("fp")))
    val member = fps.select(col("fp")).distinct().withColumn("__m", lit(1L))
    Dedup.bloomMembership(fps.select(col("fp")), probes)
      .join(member, Seq("fp"), "left")
      .groupBy(col("bloom_pass"), col("__m").isNotNull.as("is_member"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("bloom_pass"), col("is_member"))
  }

  private val dd10Sql: String = {
    val fPos = (0 until 3).map(s1 => probePosSqlOf("fp", 4096, 3000 + s1))
    s"""WITH fps AS (SELECT doc_id, ${fpSqlOf("text")} AS fp FROM documents),
       |probes AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 0
       |  UNION ALL
       |  SELECT doc_id + 5000000 AS doc_id, ${fpSqlOf("text || ' zz'")} AS fp
       |  FROM documents WHERE doc_id % 5 = 0),
       |fpos AS (SELECT DISTINCT pos FROM
       |  (SELECT unnest([${fPos.mkString(", ")}]) AS pos FROM fps)),
       |ppos AS (SELECT doc_id, fp, unnest([${fPos.mkString(", ")}]) AS pos
       |  FROM (SELECT DISTINCT doc_id, fp FROM probes)),
       |hits AS (SELECT p.doc_id, p.fp,
       |    sum(CASE WHEN f.pos IS NULL THEN 0 ELSE 1 END) AS nhit
       |  FROM ppos p LEFT JOIN fpos f ON f.pos = p.pos GROUP BY p.doc_id, p.fp),
       |mem AS (SELECT DISTINCT fp FROM fps),
       |flags AS (SELECT pr.doc_id, (h.nhit = 3) AS bloom_pass,
       |    (m.fp IS NOT NULL) AS is_member
       |  FROM probes pr JOIN hits h ON h.doc_id = pr.doc_id AND h.fp = pr.fp
       |  LEFT JOIN mem m ON m.fp = pr.fp)
       |SELECT bloom_pass, is_member, CAST(count(*) AS BIGINT) AS n,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM flags GROUP BY 1, 2
       |ORDER BY bloom_pass, is_member""".stripMargin
  }

  /** tx13 — count-min-sketch heavy hitters: a depth-3 × width-256 CMS
    * over every corpus token (768 counter cells — O(1) sketch state no
    * matter the corpus size), probed with the true top-20 tokens.
    * Output carries BOTH the exact count and the CMS estimate, so the
    * oracle pins the sketch's deterministic over-estimate cell by cell
    * (est ≥ true always; equality whenever no collision lands in all
    * three rows). Same quadratic probe family as dd10, seeds 4000+. */
  private def tx13(s: SparkSession, d: String): DataFrame = {
    val (width, depth) = (256, 3)
    val toks = documents(s, d)
      .select(explode(TF.tokens(col("text"))).as("t"))
      .select(col("t"), TF.stringHash(col("t")).as("h"))
    val cells = toks
      .select(posexplode(Dedup.probePositions(col("h"), width, depth, 4000))
        .as(Seq("r", "c")))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
    val top = toks.groupBy(col("t"), col("h")).agg(count(lit(1)).as("true_n"))
      .orderBy(col("true_n").desc, col("t")).limit(20)
    top.select(col("t"), col("true_n"),
        posexplode(Dedup.probePositions(col("h"), width, depth, 4000))
          .as(Seq("r", "c")))
      .join(cells, Seq("r", "c"))
      .groupBy(col("t"), col("true_n")).agg(min(col("cnt")).as("cms_est"))
      .select(col("t").as("token"), col("true_n"), col("cms_est"))
      .orderBy(col("true_n").desc, col("token"))
  }

  private val tx13Sql: String = {
    val pos = (0 until 3).map(r => probePosSqlOf("h", 256, 4000 + r))
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
       |h AS (SELECT t, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
       |    (a, c) -> (a*31 + c) % 1000000007) AS h FROM tok),
       |cells AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt FROM
       |    (SELECT unnest([0, 1, 2]) AS r,
       |            unnest([${pos.mkString(", ")}]) AS c FROM h)
       |  GROUP BY r, c),
       |top AS (SELECT t, h, CAST(count(*) AS BIGINT) AS true_n FROM h
       |  GROUP BY t, h ORDER BY true_n DESC, t LIMIT 20),
       |probe AS (SELECT t, true_n, unnest([0, 1, 2]) AS r,
       |    unnest([${pos.mkString(", ")}]) AS c FROM top)
       |SELECT t AS token, true_n, min(cnt) AS cms_est
       |FROM probe JOIN cells USING (r, c)
       |GROUP BY t, true_n
       |ORDER BY true_n DESC, token""".stripMargin
  }

  /** mm05 — perceptual-hash blocking over media features: aHash-style
    * bits (feature bin above the feature mean → 1) over the codec's
    * 8-bin output, bucketed by (format, phash). This is the standard
    * image-near-dup BLOCKING key — identical payloads always collide,
    * perceptually-close ones usually do, and candidate pairs come only
    * from bucket membership (the dd02 scale shape applied to media).
    * Works on the IEEE-pinned stub codec features ([[Multimodal]]): bin
    * sums exact in float, double divide narrowed to float, mean summed
    * in feature order — every comparison reproduces bit-for-bit in the
    * oracle, which rebuilds features AND hash from the raw bytes. */
  private def mm05(s: SparkSession, d: String): DataFrame = {
    val f = Multimodal.extractFeatures(Multimodal.mediaCorpus(documents(s, d)))
    val withMean = f.select(col("media_id"), col("format"),
        transform(col("features"), x => x.cast("double")).as("fd"))
      .select(col("media_id"), col("format"), col("fd"),
        (aggregate(col("fd"), lit(0.0), (a, x) => a + x) / lit(8.0)).as("mean"))
    val phash = (0 until 8).map(j =>
      when(element_at(col("fd"), j + 1) > col("mean"), lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    withMean.select(col("media_id"), col("format"), phash.as("phash"))
      .groupBy(col("format"), col("phash"))
      .agg(count(lit(1)).as("n"), min(col("media_id")).as("min_id"),
        max(col("media_id")).as("max_id"))
      .orderBy(col("format"), col("phash"))
  }

  private val mm05Sql: String = {
    val bits = (0 until 8).map(j =>
      s"(CASE WHEN fd[${j + 1}] > mean THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, text,
       |    CASE (ascii(substring(text, 1, 1)) % 3)
       |      WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'wav' END AS format,
       |    octet_length(encode(text)) AS byte_len
       |  FROM documents),
       |f AS (SELECT media_id, format,
       |  list_transform(range(0, 8), j -> CAST(CAST(
       |    coalesce(list_sum(list_transform(list_filter(range(1, byte_len + 1),
       |      i -> ((i - 1) % 8) = j), i -> CAST(ascii(text[i]) AS DOUBLE))), 0.0)
       |    / greatest(CAST(byte_len AS DOUBLE), 1.0) AS FLOAT) AS DOUBLE)) AS fd
       |  FROM m),
       |p AS (SELECT media_id, format, fd, list_sum(fd) / 8.0 AS mean FROM f),
       |h AS (SELECT media_id, format, CAST($bits AS BIGINT) AS phash FROM p)
       |SELECT format, phash, CAST(count(*) AS BIGINT) AS n,
       |  min(media_id) AS min_id, max(media_id) AS max_id
       |FROM h GROUP BY 1, 2
       |ORDER BY format, phash""".stripMargin
  }

  /** mm06 — CROSS-MODAL retrieval ([[Similarity.lshKnnAcross]]): every
    * media item's decoded feature vector (stub codec at dim 64, the
    * embedding table's width) retrieves its top-3 nearest embeddings —
    * the CLIP-style "align modality A to modality B's index" shape.
    * Both sides hash through the SAME hyperplane family, so candidates
    * are cross-table (band, bits) collisions; the oracle rebuilds the
    * features from raw bytes, replays both signature pipelines, the
    * candidate join, and the exact cosine rescore. */
  private def mm06(s: SparkSession, d: String): DataFrame = {
    // the decoded feature frame feeds TWO consumers inside lshKnnAcross
    // (signature build + exact rescore); without a cache the
    // mapPartitions codec pass — the expensive half — runs twice
    val feats = Multimodal.extractFeatures(
        Multimodal.mediaCorpus(documents(s, d)), dim = 64)
      .select(col("media_id").as("qid"), col("features").as("qvec"))
      .cache()
    Similarity.lshKnnAcrossAuto(feats, embeddings(s, d), k = 3,
        center = true)
      .orderBy(col("qid"), col("rank"))
  }

  // AUTO-SIZED geometry for the cross join (the ss05 rationale):
  // candidates grow ~ |Q|·|C|/buckets, so bitsPerBand derives from the
  // LARGER side's count — at sf0.01 (5045 docs × 2000 embeddings) that
  // lands on the 8-bit bands the old fixed geometry hand-picked, and
  // keeps growing with the corpus instead of going quadratic (fixed
  // measured 7.7× wall on 10× data). The oracle re-derives the same
  // width from the two counts over a prefix-stable 60-plane family.
  private val mm06Sql: String = {
    val planeRows = Similarity.planes(60, Similarity.MaxPlaneDim)
      .zipWithIndex.map { case (pl, p) =>
        s"($p, [${pl.take(64).mkString(", ")}])"
      }.mkString(",\n  ")
    s"""WITH geom AS (SELECT CAST(coalesce(MIN(b), 15) AS INT) AS bits
       |  FROM range(4, 16) t(b)
       |  WHERE (CAST(1 AS BIGINT) << CAST(b AS INT)) * 32 >=
       |    greatest((SELECT count(*) FROM documents),
       |             (SELECT count(*) FROM embeddings))),
       |planes(p, pl) AS (VALUES
       |  $planeRows),
       |m AS (SELECT doc_id AS media_id, text,
       |    octet_length(encode(text)) AS byte_len FROM documents),
       |f AS (SELECT media_id,
       |  list_transform(range(0, 64), j -> CAST(CAST(
       |    coalesce(list_sum(list_transform(list_filter(range(1, byte_len + 1),
       |      i -> ((i - 1) % 64) = j), i -> CAST(ascii(text[i]) AS DOUBLE))), 0.0)
       |    / greatest(CAST(byte_len AS DOUBLE), 1.0) AS FLOAT) AS DOUBLE)) AS fd
       |  FROM m),
       |fsum AS (SELECT j, sum(CAST(floor(fd[j]*1048576.0 + 0.5) AS BIGINT)) AS s,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM f CROSS JOIN range(1, 65) t(j) GROUP BY j),
       |fmean AS (SELECT list(floor(CAST(s AS DOUBLE)/n)/1048576.0 ORDER BY j) AS mv
       |  FROM fsum),
       |fcen AS (SELECT media_id,
       |    list_transform(range(1, 65), i -> fd[i] - mv[i]) AS fdc
       |  FROM f CROSS JOIN fmean),
       |qdots AS (SELECT fc.media_id, pls.p,
       |    list_sum(list_transform(range(1, 65),
       |      i -> coalesce(fc.fdc[i] * pls.pl[i], 0.0))) AS dot
       |  FROM fcen fc CROSS JOIN planes pls CROSS JOIN geom g
       |  WHERE pls.p < 4 * g.bits),
       |qsigs AS (SELECT media_id,
       |    sum(CASE WHEN dot >= 0.0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
       |        ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM qdots GROUP BY media_id),
       |qbands AS (SELECT media_id,
       |    unnest(list_transform(range(0, 4), b -> {'band': b,
       |      'bits': ((sig >> CAST(b * g.bits AS INT)) &
       |               ((CAST(1 AS BIGINT) << g.bits) - 1))})) AS u
       |  FROM qsigs CROSS JOIN geom g),
       |esum AS (SELECT j,
       |    sum(CAST(floor(CAST(e.embedding[j] AS DOUBLE)*1048576.0 + 0.5) AS BIGINT)) AS s,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM embeddings e CROSS JOIN range(1, 65) t(j) GROUP BY j),
       |emean AS (SELECT list(floor(CAST(s AS DOUBLE)/n)/1048576.0 ORDER BY j) AS mv
       |  FROM esum),
       |ecen AS (SELECT e.vec_id,
       |    list_transform(range(1, 65),
       |      i -> CAST(e.embedding[i] AS DOUBLE) - mv[i]) AS ec
       |  FROM embeddings e CROSS JOIN emean),
       |cdots AS (SELECT ec.vec_id, pls.p,
       |    list_sum(list_transform(range(1, 65),
       |      i -> coalesce(ec.ec[i] * pls.pl[i], 0.0))) AS dot
       |  FROM ecen ec CROSS JOIN planes pls CROSS JOIN geom g
       |  WHERE pls.p < 4 * g.bits),
       |csigs AS (SELECT vec_id,
       |    sum(CASE WHEN dot >= 0.0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
       |        ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM cdots GROUP BY vec_id),
       |cbands AS (SELECT vec_id,
       |    unnest(list_transform(range(0, 4), b -> {'band': b,
       |      'bits': ((sig >> CAST(b * g.bits AS INT)) &
       |               ((CAST(1 AS BIGINT) << g.bits) - 1))})) AS u
       |  FROM csigs CROSS JOIN geom g),
       |cand AS (SELECT DISTINCT q.media_id AS qid, c.vec_id
       |  FROM qbands q JOIN cbands c
       |    ON q.u.band = c.u.band AND q.u.bits = c.u.bits),
       |scored AS (SELECT cand.qid, cand.vec_id,
       |    round(
       |      list_sum(list_transform(list_zip(f.fd, e.embedding),
       |               s -> s[1] * CAST(s[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(f.fd, x -> x * x)))
       |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
       |  FROM cand
       |  JOIN f ON f.media_id = cand.qid
       |  JOIN embeddings e ON e.vec_id = cand.vec_id),
       |r AS (SELECT qid, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT qid, rank, vec_id, cos FROM r WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin
  }

  /** Shared bucket CTE for the sp-family oracles: portable id-string
    * hash + the exact quadratic mix [[Sampling.MixConsts]] uses. */
  private def spBucketCte: String = {
    val (a, b, c) = Sampling.MixConsts
    s"""b AS (SELECT doc_id, lang,
       |  (($a*((h*h) % 1000000007) + $b*h + $c) % 1000000007) % 10000 AS bucket
       |  FROM (SELECT doc_id, lang,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
       |        i -> CAST(ascii(CAST(doc_id AS VARCHAR)[i]) AS BIGINT))),
       |      (a, c) -> (a*31 + c) % 1000000007) AS h
       |    FROM documents))""".stripMargin
  }

  private val sp01Sql =
    s"""WITH $spBucketCte,
      |kept AS (SELECT doc_id, lang FROM b
      |  WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
      |    WHEN 'es' THEN 2500 WHEN 'fr' THEN 7500 WHEN 'zh' THEN 1000
      |    ELSE 0 END)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM kept GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** sp02 — train/val/test assignment by hash range
    * ([[Sampling.assignSplit]]): per-(split, lang) counts. Same
    * portable-hash determinism as sp01. */
  private def sp02(s: SparkSession, d: String): DataFrame =
    Sampling.assignSplit(documents(s, d), "doc_id")
      .groupBy(col("split"), col("lang")).agg(count(lit(1)).as("n"))
      .orderBy(col("split"), col("lang"))

  private val sp02Sql =
    s"""WITH $spBucketCte
      |SELECT CASE WHEN bucket < 500 THEN 'val'
      |            WHEN bucket < 1000 THEN 'test' ELSE 'train' END AS split,
      |  lang, CAST(count(*) AS BIGINT) AS n
      |FROM b GROUP BY 1, 2
      |ORDER BY split, lang""".stripMargin

  /** sp03 — sequence packing ([[Packing.assignBins]]): documents
    * concatenated in id order per language and chopped into 2000-token
    * bins; per-bin doc counts and token totals. Deterministic shard
    * layout, exactly replayed by the oracle's window cumsum. */
  private def sp03(s: SparkSession, d: String): DataFrame =
    Packing.assignBins(documents(s, d), "doc_id", "text", "lang", 2000L)
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_total"),
        min(col("doc_id")).as("first_id"), max(col("doc_id")).as("last_id"))
      .orderBy(col("lang"), col("bin"))

  private val sp03Sql =
    """WITH t AS (SELECT doc_id, lang,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |c AS (SELECT lang, doc_id, n_tokens,
      |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
      |  FROM t)
      |SELECT lang, CAST(floor(tok_start / 2000.0) AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tok_total,
      |  min(doc_id) AS first_id, max(doc_id) AS last_id
      |FROM c GROUP BY lang, bin
      |ORDER BY lang, bin""".stripMargin

  /** sp04 — token-budget mixture sampling ("data mixing",
    * [[Sampling.tokenBudgetSample]]): each language keeps whole hash
    * buckets of documents in bucket order until its token budget is
    * crossed (first crossing bucket kept, so coverage ≥ budget).
    * Reports per-lang surviving doc/token counts and id extremes. The
    * oracle replays the exact bucket mix, the per-(lang, bucket)
    * histogram cumsum and the crossing rule — membership is a pure
    * function of (doc_id, corpus histogram), reproducible cross-engine. */
  private def sp04(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("n_tokens", size(TF.tokens(col("text"))).cast("long"))
    val budget = when(col("lang") === "en", lit(30000L))
      .when(col("lang") === "de", lit(12000L))
      .when(col("lang") === "es", lit(6000L))
      .otherwise(lit(2500L))
    Sampling.tokenBudgetSample(docs, "doc_id", "lang", "n_tokens", budget)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_kept"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
  }

  private val sp04Sql =
    s"""WITH $spBucketCte,
      |t AS (SELECT b.doc_id, b.lang, b.bucket,
      |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      |  FROM b JOIN documents d USING (doc_id)),
      |hist AS (SELECT lang, bucket, sum(n_tokens) AS btok
      |  FROM t GROUP BY lang, bucket),
      |k AS (SELECT lang, bucket FROM (
      |  SELECT lang, bucket,
      |    COALESCE(SUM(btok) OVER (PARTITION BY lang ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
      |  FROM hist)
      |  WHERE tok_before < CASE lang WHEN 'en' THEN 30000 WHEN 'de' THEN 12000
      |    WHEN 'es' THEN 6000 ELSE 2500 END)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS tok_kept,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM t JOIN k USING (lang, bucket)
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** dc01 — benchmark decontamination ([[Decontaminate.overlaps]]): the
    * deterministic 5% hash-bucket sample plays the held-out benchmark;
    * every other document is scored by how many distinct 4-gram
    * shingles it shares with that set. 4-grams (not 3) because the
    * synthetic corpus's small vocabulary makes trigram collisions
    * ubiquitous — the same reason real decontamination uses 8-13-grams. */
  private def dc01(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val evalCut = lit(500L) // 5% of Sampling.Buckets
    val bucket = Sampling.bucketOf(col("doc_id"))
    Decontaminate.overlaps(
      docs.filter(bucket >= evalCut), docs.filter(bucket < evalCut),
      "doc_id", "text", n = 4)
      .orderBy(col("doc_id"))
  }

  private val dc01Sql =
    s"""WITH $spBucketCte,
      |sh AS (SELECT d.doc_id, b.bucket,
      |  list_distinct(list_transform(range(1, len(string_split(text,' ')) - 2),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' ||
      |         string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])) AS s
      |  FROM documents d JOIN b USING (doc_id)),
      |ev AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE bucket < 500),
      |co AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE bucket >= 500)
      |SELECT co.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      |FROM co JOIN ev USING (shingle)
      |GROUP BY co.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------- deduplication ----------------

  private def dd01(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"))
      .orderBy(col("source"))

  private val dd01Sql =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  private def dd02(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDups(Dedup.augmentWithNearDups(documents(s, d)))
      .orderBy(col("doc_a"), col("doc_b"))

  /** dd02 oracle — EXACT replica, not a differential: the minhash family
    * is fully-specified portable arithmetic (quadratic transforms of the
    * base-31 polynomial hash; constants interpolated from the same
    * [[Dedup.seedConsts]] the Spark side uses), so DuckDB rebuilds the
    * identical signatures, the identical band-collision candidate set
    * (band equality on the raw component pairs == Spark's equality on
    * their hashed key), and the identical estimates. */
  private val dd02Sql: String = {
    val P = 1000000007L
    val sigExprs = (0 until 8).map { k =>
      val (a, b, c) = Dedup.seedConsts(k)
      s"list_min(list_transform(hs, h -> ($a*((h*h)%$P) + $b*h + $c) % $P))"
    }.mkString(",\n    ")
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' dup' FROM documents WHERE doc_id < 50),
       |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
       |th AS (SELECT doc_id,
       |  list_transform(t, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, length(x)+1), i -> CAST(ascii(x[i]) AS BIGINT))),
       |    (a, c) -> (a*31 + c) % $P)) AS ths
       |  FROM tok),
       |h AS (SELECT doc_id, list_transform(range(1, len(ths) - 1),
       |    i -> ((((ths[i]*131 + ths[i+1]) % $P) * 131) + ths[i+2]) % $P) AS hs
       |  FROM th WHERE len(ths) >= 3),
       |sig AS (SELECT doc_id, [
       |    $sigExprs
       |  ] AS sig FROM h),
       |bands AS (SELECT doc_id, sig,
       |  unnest(list_transform(range(0, 4), b -> {'band': b,
       |    'key': CAST(sig[b*2+1] AS VARCHAR) || ':' || CAST(sig[b*2+2] AS VARCHAR)})) AS u
       |  FROM sig),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.sig AS sa, y.sig AS sb
       |  FROM bands x JOIN bands y
       |    ON x.u.band = y.u.band AND x.u.key = y.u.key AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  round(len(list_filter(range(1, 9), i -> sa[i] = sb[i])) / 8.0, 6) AS est_jaccard
       |FROM cand
       |WHERE len(list_filter(range(1, 9), i -> sa[i] = sb[i])) / 8.0 >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private def dd03(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDups(Dedup.augmentWithNearDups(documents(s, d)))
      .orderBy(col("doc_a"), col("doc_b"))

  /** dd03 oracle — exact replica of the portable SimHash: per-bit ±1
    * votes from independent quadratic hashes of each token's base-31
    * polynomial hash (constants interpolated from the same
    * [[Dedup.bitConsts]] the Spark side uses), the 16-bit chunk
    * Hamming-LSH candidates, and the exact Hamming confirm. */
  private val dd03Sql: String = {
    val P = 1000000007L
    val values = (0 until 60).map { k =>
      val (a, b, c) = Dedup.bitConsts(k)
      s"($k, $a, $b, $c)"
    }.grouped(4).map(_.mkString(", ")).mkString(",\n  ")
    s"""WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' dup' FROM documents WHERE doc_id < 50),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM aug),
      |hashed AS (SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
      |    (a, c) -> (a*31 + c) % $P) AS h
      |  FROM tok),
      |hh AS (SELECT doc_id, h, (h*h) % $P AS h2 FROM hashed),
      |consts(k, a, b, c) AS (VALUES
      |  $values),
      |votes AS (SELECT doc_id, k, sum(CASE WHEN (((a*h2 + b*h + c) % $P) & 1) = 1
      |    THEN 1 ELSE -1 END) AS cnt
      |  FROM hh CROSS JOIN consts
      |  GROUP BY doc_id, k),
      |sig AS (SELECT doc_id, sum(CASE WHEN cnt > 0
      |    THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE CAST(0 AS BIGINT) END) AS sig
      |  FROM votes GROUP BY doc_id),
      |chunks AS (SELECT doc_id, sig,
      |  unnest(list_transform(range(0, 4), c -> {'chunk': c,
      |    'val': ((sig >> CAST(c*16 AS INT)) & 65535)})) AS u
      |  FROM sig),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    x.sig AS sa, y.sig AS sb
      |  FROM chunks x JOIN chunks y
      |    ON x.u.chunk = y.u.chunk AND x.u.val = y.u.val AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
      |FROM cand
      |WHERE bit_count(xor(sa, sb)) <= 8
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** dd04 — differential oracle: Spark runs the scalable block-then-
    * verify pipeline (LSH candidates → exact Jaccard confirm); the oracle
    * computes the exact ALL-PAIRS Jaccard in DuckDB. A hash match proves
    * the probabilistic blocking lost nothing on this corpus AND the
    * verify arithmetic agrees to 6dp. */
  private def dd04(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardDups(Dedup.augmentWithNearDups(documents(s, d)))
      .orderBy(col("doc_a"), col("doc_b"))

  private val dd04Sql =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' dup' FROM documents WHERE doc_id < 50),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
      |  FROM aug)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin

  private def augmentedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    e.select(col("vec_id"), col("embedding"))
      .union(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
  }

  /** Exact embedding dedup: group by the full vector value. */
  private def dd05(s: SparkSession, d: String): DataFrame =
    augmentedEmbeddings(s, d)
      .groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("min_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("min_id"), col("n"))
      .orderBy(col("min_id"))

  private val dd05Sql =
    """WITH aug AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 50)
      |SELECT min_id, n FROM (
      |  SELECT min(vec_id) AS min_id, CAST(count(*) AS BIGINT) AS n
      |  FROM aug GROUP BY embedding)
      |WHERE n > 1
      |ORDER BY min_id""".stripMargin

  /** dd08 — winnowing fingerprints (MOSS): identical portable hash
    * arithmetic in both engines, so the oracle reproduces the winnowed
    * sets and the shared-fingerprint pair counts exactly. */
  private def dd08(s: SparkSession, d: String): DataFrame =
    Dedup.winnowingDups(Dedup.augmentWithNearDups(documents(s, d)))
      .orderBy(col("doc_a"), col("doc_b"))

  private val dd08Sql =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' dup' FROM documents WHERE doc_id < 50),
      |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
      |th AS (SELECT doc_id,
      |  list_transform(t, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(x)+1), i -> CAST(ascii(x[i]) AS BIGINT))),
      |    (a, c) -> (a*31 + c) % 1000000007)) AS ths
      |  FROM tok),
      |h AS (SELECT doc_id, list_transform(range(1, len(ths) - 1),
      |    i -> ((((ths[i]*131 + ths[i+1]) % 1000000007) * 131) + ths[i+2]) % 1000000007) AS hs
      |  FROM th WHERE len(ths) >= 3),
      |fp AS (SELECT DISTINCT doc_id,
      |  unnest(list_distinct(list_transform(range(1, greatest(len(hs) - 4, 0) + 2),
      |    i -> list_aggregate(hs[i:i+3], 'min')))) AS f
      |  FROM h WHERE len(hs) >= 1),
      |rare AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 10),
      |fpr AS (SELECT doc_id, f FROM fp JOIN rare USING (f))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(count(*) AS BIGINT) AS shared_fps
      |FROM fpr a JOIN fpr b ON a.f = b.f AND a.doc_id < b.doc_id
      |GROUP BY 1, 2
      |HAVING count(*) >= 5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** dd09 — C4/RefinedWeb-style cross-document segment dedup: per-doc
    * survival counts after keeping only the corpus-wide first occurrence
    * of every 10-token window ([[Dedup.segmentDedupStats]]). Run over
    * the augmented corpus so planted copies demonstrably lose their
    * repeated spans; natural token-level repetition across documents
    * contributes too. */
  private def dd09(s: SparkSession, d: String): DataFrame =
    Dedup.segmentDedupStats(Dedup.augmentWithNearDups(documents(s, d)))
      .orderBy(col("doc_id"))

  private val dd09Sql =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' dup' FROM documents WHERE doc_id < 50),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
      |seg AS (SELECT doc_id,
      |  unnest(list_transform(range(0, greatest(CAST(ceil(len(t)/10.0) AS BIGINT), 1)),
      |    i -> {'seg_idx': i, 's': array_to_string(t[(i*10+1):(i*10+10)], ' ')})) AS u
      |  FROM toks),
      |segs AS (SELECT doc_id, CAST(u.seg_idx AS BIGINT) AS seg_idx, u.s AS s FROM seg),
      |firsts AS (SELECT s, min(doc_id*1000000 + seg_idx) AS fk FROM segs GROUP BY s)
      |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_segments,
      |  CAST(sum(CASE WHEN g.doc_id*1000000 + g.seg_idx = f.fk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(count(*) - sum(CASE WHEN g.doc_id*1000000 + g.seg_idx = f.fk THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
      |FROM segs g JOIN firsts f ON g.s = f.s
      |GROUP BY g.doc_id
      |ORDER BY g.doc_id""".stripMargin

  /** dd06 — differential oracle, same structure as dd04: Spark runs
    * hyperplane-LSH bands + exact-cosine confirm; the oracle is DuckDB's
    * exact all-pairs cosine at the same threshold. AUTO-SIZED geometry
    * ([[Similarity.cosineNearDupsAuto]]): fixed 4-bit bands measured
    * 11.8× wall at 10× data — candidate pairs grow ~n²/buckets under
    * any fixed bucket count. The differential oracle never sees the
    * geometry, so only the Spark side changes; recall at the 0.99
    * threshold is argued (and exact copies collide under ANY geometry)
    * in the operator's docstring. */
  private def dd06(s: SparkSession, d: String): DataFrame =
    Similarity.cosineNearDupsAuto(augmentedEmbeddings(s, d))
      .orderBy(col("vec_a"), col("vec_b"))

  private val dd06Sql =
    """WITH aug AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 50),
      |n AS (SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm FROM aug)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE))) / (a.nrm*b.nrm), 6) AS cos
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE))) / (a.nrm*b.nrm) >= 0.99
      |ORDER BY vec_a, vec_b""".stripMargin

  /** dd07 — the end-to-end dedup pipeline: verified near-dup pairs →
    * connected-component clusters; output is the per-doc cluster
    * assignment for every doc in a multi-member cluster. Pairs come from
    * the EXACT-verified Jaccard pipeline (dd04) so the oracle can rebuild
    * the same graph: DuckDB computes exact all-pairs edges and closes
    * them with a recursive CTE (min-label connected components). */
  private def dd07(s: SparkSession, d: String): DataFrame = {
    val aug = Dedup.augmentWithNearDups(documents(s, d))
    val pairs = Dedup.ngramJaccardDups(aug)
    val cl = Dedup.clusters(aug.select(col("doc_id")), pairs)
    val multi = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("cluster_id"))
    cl.join(multi, "cluster_id")
      .select(col("doc_id"), col("cluster_id"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  /** dd13 — the SAME cluster semantics as dd07, computed by large-star/
    * small-star contraction ([[Dedup.clustersStar]], O(log diameter)
    * rounds) instead of label propagation. Oracled against the identical
    * recursive-CTE closure, so a hash match proves the contraction
    * algorithm reaches exactly the propagation fixed point. */
  private def dd13(s: SparkSession, d: String): DataFrame = {
    val aug = Dedup.augmentWithNearDups(documents(s, d))
    val pairs = Dedup.ngramJaccardDups(aug)
    val cl = Dedup.clustersStar(aug.select(col("doc_id")), pairs)
    val multi = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("cluster_id"))
    cl.join(multi, "cluster_id")
      .select(col("doc_id"), col("cluster_id"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  private val dd07Sql =
    """WITH RECURSIVE
      |aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' dup' FROM documents WHERE doc_id < 50),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
      |  FROM aug),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM aug
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |labels AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
      |multi AS (SELECT cluster_id FROM labels GROUP BY cluster_id HAVING count(*) > 1)
      |SELECT doc_id, cluster_id FROM labels JOIN multi USING (cluster_id)
      |ORDER BY cluster_id, doc_id""".stripMargin

  /** dd15 — QUALITY-AWARE representative selection: per near-dup
    * cluster keep the LONGEST member (most complete copy — the
    * C4/RefinedWeb-style alternative to [[Dedup.dedupCorpus]]'s
    * keep-lowest-id), tie-break on doc_id. Clusters come from the
    * log-round star contraction; the oracle closes the same exact
    * all-pairs graph with the recursive CTE and replays the
    * argmax-by-token-count, so representative choice is pinned, not
    * just cluster membership. The planted copies are one token LONGER
    * than their sources ('… dup'), so the selected representative
    * provably differs from keep-lowest-id. */
  private def dd15(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val aug = Dedup.augmentWithNearDups(documents(s, d))
    val pairs = Dedup.ngramJaccardDups(aug)
    val cl = Dedup.clustersStar(aug.select(col("doc_id")), pairs)
    val multi = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    cl.join(multi, "cluster_id")
      .join(aug.select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens")), "doc_id")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_id"),
        col("n_tokens"), col("n_members"))
      .orderBy(col("cluster_id"))
  }

  private val dd15Sql =
    """WITH RECURSIVE
      |aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' dup' FROM documents WHERE doc_id < 50),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
      |  FROM aug),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM aug
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |labels AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
      |multi AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
      |  FROM labels GROUP BY cluster_id HAVING count(*) > 1),
      |toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens FROM aug),
      |ranked AS (
      |  SELECT m.cluster_id, l.doc_id, t.n_tokens, m.n_members,
      |    row_number() OVER (PARTITION BY m.cluster_id
      |      ORDER BY t.n_tokens DESC, l.doc_id) AS rk
      |  FROM labels l JOIN multi m USING (cluster_id) JOIN toks t USING (doc_id))
      |SELECT cluster_id, doc_id AS rep_id, n_tokens, n_members
      |FROM ranked WHERE rk = 1
      |ORDER BY cluster_id""".stripMargin

  // ---------------- similarity search ----------------

  private def ss01(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(embeddings(s, d), queryId = 0L, k = 10)

  private val ss01Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(
      |    list_sum(list_transform(list_zip(e.embedding, q.qe),
      |             s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
      |FROM embeddings e, q
      |ORDER BY cos DESC, vec_id
      |LIMIT 10""".stripMargin

  /** ss08 — INT8-quantized ANN ([[Similarity.int8TopK]]): top-10 for
    * query vector 0 scored entirely on symmetric int8 codes — the 4×
    * memory cut a RAM-resident 100 TB embedding serving tier runs on.
    * The oracle replays the quantization (max|x|/127 scale,
    * floor(x/s + 0.5) rounding — spelled out so tie behavior is
    * engine-independent), the integer dot products, and the final
    * divide; scales cancel from the cosine so scoring is integer
    * arithmetic until one double divide per pair. */
  private def ss08(s: SparkSession, d: String): DataFrame =
    Similarity.int8TopK(embeddings(s, d), queryId = 0L, k = 10)

  private val ss08Sql =
    """WITH qz AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) / sc + 0.5) AS BIGINT)) AS qv
      |  FROM (SELECT vec_id, embedding,
      |      CASE WHEN ma = 0 THEN 1.0 ELSE ma / 127.0 END AS sc
      |    FROM (SELECT vec_id, embedding,
      |        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
      |      FROM embeddings))),
      |n AS (SELECT vec_id, qv,
      |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qn FROM qz),
      |q AS (SELECT qv AS qqv, qn AS qqn FROM n WHERE vec_id = 0)
      |SELECT n.vec_id,
      |  round(CASE WHEN n.qn = 0 OR q.qqn = 0 THEN 0.0
      |    ELSE CAST(list_sum(list_transform(list_zip(n.qv, q.qqv),
      |           s -> s[1] * s[2])) AS DOUBLE)
      |      / (sqrt(CAST(n.qn AS DOUBLE)) * sqrt(CAST(q.qqn AS DOUBLE))) END, 6) AS qcos
      |FROM n, q
      |ORDER BY qcos DESC, vec_id
      |LIMIT 10""".stripMargin

  /** ss09 — PRODUCT-QUANTIZATION ANN ([[Similarity.pqTopK]], Jégou et
    * al. 2011): 4 subspaces × 8 codewords, asymmetric-distance (ADC)
    * inner-product scoring — each corpus vector is scanned as 4 small
    * codes and scored by 4 LUT lookups, never by reading its floats
    * (the billion-vector memory layout). The oracle replays the whole
    * pipeline: hash-ordered codeword selection (ss03's portable seed
    * hash), subspace slicing, L2² encode with code-order tie-break, the
    * query's dot-product LUT, and the subspace-ordered ADC fold. */
  private def ss09(s: SparkSession, d: String): DataFrame =
    Similarity.pqTopK(embeddings(s, d), queryId = 0L, k = 10, m = 4, ksub = 8)

  private val ss09Sql: String = {
    val (sa, sb, sc) = Similarity.SeedSelConsts
    s"""WITH hp AS (
       |  SELECT vec_id, embedding,
       |    ((($sa * (((((vec_id % 1000000007) + 1000000007) % 1000000007)
       |              * (((vec_id % 1000000007) + 1000000007) % 1000000007)) % 1000000007)
       |     + $sb * (((vec_id % 1000000007) + 1000000007) % 1000000007)
       |     + $sc) % 1000000007) + 1000000007) % 1000000007 AS h
       |  FROM embeddings),
       |seeds AS (
       |  SELECT embedding, row_number() OVER (ORDER BY h, vec_id) - 1 AS code
       |  FROM hp ORDER BY h, vec_id LIMIT 8),
       |subs AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS sub),
       |cb AS (
       |  SELECT sub, code,
       |    list_transform(
       |      embedding[(sub * (len(embedding) // 4) + 1):((sub + 1) * (len(embedding) // 4))],
       |      x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM seeds CROSS JOIN subs),
       |vs AS (
       |  SELECT vec_id, sub,
       |    list_transform(
       |      embedding[(sub * (len(embedding) // 4) + 1):((sub + 1) * (len(embedding) // 4))],
       |      x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings CROSS JOIN subs),
       |enc0 AS (
       |  SELECT vs.vec_id, vs.sub, cb.code,
       |    list_sum(list_transform(list_zip(vs.v, cb.centroid),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS l2
       |  FROM vs JOIN cb USING (sub)),
       |enc AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY l2, code) AS rk
       |    FROM enc0) WHERE rk = 1),
       |lut AS (
       |  SELECT q.sub, cb.code,
       |    list_sum(list_transform(list_zip(q.v, cb.centroid),
       |      z -> z[1] * z[2])) AS d
       |  FROM (SELECT sub, v FROM vs WHERE vec_id = 0) q JOIN cb USING (sub))
       |SELECT e.vec_id, round(list_sum(list(l.d ORDER BY l.sub)), 6) AS adc
       |FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
       |GROUP BY e.vec_id
       |ORDER BY adc DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  /** ss11 — IVF-PQ ANN ([[Similarity.ivfPqTopK]], the FAISS `IVF16,PQ4`
    * layout): ss03's oracled coarse quantizer routes vectors to cells,
    * residuals v − centroid are PQ-encoded with ss09's discipline, and
    * the probe scores its 4 nearest cells with per-cell ADC tables built
    * from the query's own residual. The oracle composes the shared IVF
    * CTE (seed hash → Lloyd round → assignment, verbatim from ss03)
    * with the PQ replay on residuals — codeword selection, L2² encode,
    * per-cell LUT, subspace-ordered fold — so every stage of the
    * composition is pinned, not just the ends. */
  private def ss11(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqTopK(embeddings(s, d), queryId = 0L, k = 10,
      nCells = 16, kmeansIters = 1, nProbe = 4, m = 4, ksub = 8)

  private val ss11Sql: String =
    s"""WITH ${ivfAsg1Cte("embeddings")},
       |res AS (
       |  SELECT a.vec_id, a.centroid_id,
       |    list_transform(list_zip(a.embedding, c.centroid),
       |      z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS r
       |  FROM asg1 a JOIN cents c USING (centroid_id)),
       |pseeds AS (
       |  SELECT r, row_number() OVER (ORDER BY h, vec_id) - 1 AS code
       |  FROM (SELECT res.vec_id, res.r, hp.h FROM res JOIN hp USING (vec_id))
       |  ORDER BY h, vec_id LIMIT 8),
       |subs AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS sub),
       |pcb AS (
       |  SELECT sub, code,
       |    r[(sub * (len(r) // 4) + 1):((sub + 1) * (len(r) // 4))] AS centroid
       |  FROM pseeds CROSS JOIN subs),
       |vsr AS (
       |  SELECT vec_id, centroid_id, sub,
       |    r[(sub * (len(r) // 4) + 1):((sub + 1) * (len(r) // 4))] AS v
       |  FROM res CROSS JOIN subs),
       |enc0 AS (
       |  SELECT vsr.vec_id, vsr.centroid_id, vsr.sub, pcb.code,
       |    list_sum(list_transform(list_zip(vsr.v, pcb.centroid),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS l2
       |  FROM vsr JOIN pcb USING (sub)),
       |enc AS (
       |  SELECT vec_id, centroid_id, sub, code FROM (
       |    SELECT vec_id, centroid_id, sub, code,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY l2, code) AS rk
       |    FROM enc0) WHERE rk = 1),
       |qprobe AS (SELECT centroid_id FROM a1 WHERE vec_id = 0 AND rk <= 4),
       |qres AS (
       |  SELECT c.centroid_id,
       |    list_transform(list_zip(q.embedding, c.centroid),
       |      z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS qr
       |  FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |  CROSS JOIN cents c
       |  JOIN qprobe ON c.centroid_id = qprobe.centroid_id),
       |qvs AS (
       |  SELECT centroid_id, sub,
       |    qr[(sub * (len(qr) // 4) + 1):((sub + 1) * (len(qr) // 4))] AS qv
       |  FROM qres CROSS JOIN subs),
       |lut AS (
       |  SELECT q.centroid_id, q.sub, c.code,
       |    list_sum(list_transform(list_zip(q.qv, c.centroid),
       |      z -> z[1] * z[2])) AS d
       |  FROM qvs q JOIN pcb c USING (sub)),
       |scq AS (
       |  SELECT e.vec_id, l.sub, l.d
       |  FROM enc e JOIN lut l
       |    ON e.centroid_id = l.centroid_id AND e.sub = l.sub AND e.code = l.code)
       |SELECT vec_id, round(list_sum(list(d ORDER BY sub)), 6) AS adc
       |FROM scq GROUP BY vec_id
       |ORDER BY adc DESC, vec_id
       |LIMIT 10""".stripMargin

  /** ss12 — INCREMENTAL index maintenance
    * ([[Similarity.updateIvfIndex]]): build the persisted IVF index on
    * 4/5 of the corpus, then fold in the missing fifth and remove the
    * %7==2 ids — only touched cells' posting directories rewrite, the
    * codebook never rebuilds (how a 100 TB index tracks a mutating
    * corpus; [[graft.lake.TxnLake.changes]] feeds the same API). The
    * probe then runs against the UPDATED files. Oracle: codebook from
    * the BASE corpus (ss03's replayed pipeline), final assignment over
    * the post-update corpus, probe, rescore — a hash match proves the
    * incremental path equals indexing the final corpus under the same
    * codebook. */
  private def ss12(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val ix = java.nio.file.Files.createTempDirectory("graft_ss12")
      .resolve("ivf").toString
    val base = e.filter(pmod(col("vec_id"), lit(5)) =!= 3)
    Similarity.buildIvfIndex(base, ix, nCells = 16, kmeansIters = 1)
    Similarity.updateIvfIndex(s, ix,
      adds = e.filter(pmod(col("vec_id"), lit(5)) === 3),
      removeIds = base.filter(pmod(col("vec_id"), lit(7)) === 2).select(col("vec_id")))
    Similarity.probeIvfIndex(s, ix,
        e.filter(col("vec_id") === 0L).select(col("vec_id").as("qid"), col("embedding")),
        k = 10, nProbe = 4)
      .select(col("vec_id"), col("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  private val ss12Sql: String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 3),
       |${ivfAsg1Cte("base")},
       |fin AS (
       |  SELECT vec_id, embedding FROM base WHERE vec_id % 7 <> 2
       |  UNION ALL
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 3),
       |af AS (
       |  SELECT f.vec_id, f.embedding, c.centroid_id,
       |    row_number() OVER (PARTITION BY f.vec_id
       |      ORDER BY ${cosSqlOf("f.embedding", "c.centroid")} DESC, c.centroid_id) AS rk
       |  FROM fin f CROSS JOIN cents c),
       |asgf AS (SELECT vec_id, embedding, centroid_id FROM af WHERE rk = 1),
       |qprobe AS (SELECT centroid_id FROM af WHERE vec_id = 0 AND rk <= 4),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT a.vec_id, round(${cosSqlOf("a.embedding", "q.qe")}, 6) AS cos
       |FROM asgf a JOIN qprobe USING (centroid_id), q
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  /** st20 — END-TO-END CDC → INDEX pipeline
    * ([[graft.streaming.IndexMaintenance]]): a transactional embeddings
    * table's change feed, read as a CHECKPOINTED STREAM from the first
    * post-snapshot commit, drives touched-cell-only updates of the
    * persisted IVF index built on that snapshot — the composition a
    * production vector store runs (ss12 pins the per-call API; this
    * wires commits → `_graft_cdc` → stream → index). History: create
    * (codebook frozen on that snapshot), append the missing fifth,
    * predicate-delete %7==2, then upsert %11==0 with the NEGATED
    * embedding — an update is remove-from-old-cell + add-to-new-cell,
    * and re-inserts the deleted %77-family keys. The stream drains
    * AvailableNow (per-version pacing and every intermediate index state
    * are pinned by `IndexMaintenanceSpec`; the registered query should
    * not pay one dynamic-overwrite cycle per commit). The answer
    * probes the maintained index
    * for two query vectors; the oracle replays codebook-from-base +
    * final-corpus assignment + probe relationally, so a hash match
    * proves the streamed increments equal indexing the final corpus
    * under the same codebook. `IndexMaintenanceSpec` additionally pins
    * stream == one-shot-batch == fresh-assignment equality. */
  private def st20(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.streaming.IndexMaintenance
    val root = java.nio.file.Files.createTempDirectory("graft_st20")
    val dir = root.resolve("emb_lake").toString
    val ix = root.resolve("ivf").toString
    // the even-id half of the corpus: the pipeline's cost is index
    // maintenance (3 update rounds over a built index), which scales
    // with the slice like every other registered query's input does —
    // the history SHAPE (append/delete/negating upsert) is what the
    // hash pins
    val e = embeddings(s, d).filter(pmod(col("vec_id"), lit(2)) === 0)
    TxnLake.create(s, dir, e.filter(pmod(col("vec_id"), lit(5)) =!= 3),
      "label", changeFeed = true)
    Similarity.buildIvfIndex(
      TxnLake.read(s, dir).select(col("vec_id"), col("embedding")),
      ix, nCells = 16, kmeansIters = 1)
    TxnLake.append(s, dir, e.filter(pmod(col("vec_id"), lit(5)) === 3))
    TxnLake.deleteWhere(s, dir, pmod(col("vec_id"), lit(7)) === 2)
    TxnLake.upsert(s, dir,
      e.filter(pmod(col("vec_id"), lit(11)) === 0)
        .withColumn("embedding", transform(col("embedding"), x => -x)),
      "vec_id")
    IndexMaintenance.maintain(s, dir, ix,
        checkpointDir = root.resolve("ckpt").toString,
        startingVersion = Some(1L))
      .awaitTermination()
    Similarity.probeIvfIndex(s, ix,
        e.filter(col("vec_id").isin(0L, 2L))
          .select(col("vec_id").as("qid"), col("embedding")),
        k = 10, nProbe = 4)
      .orderBy(col("qid"), col("cos").desc, col("vec_id"))
  }

  private val st20Sql: String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
       |base AS (SELECT vec_id, embedding FROM corpus WHERE vec_id % 5 <> 3),
       |${ivfAsg1Cte("base")},
       |fin AS (
       |  SELECT vec_id, embedding FROM corpus
       |  WHERE vec_id % 7 <> 2 AND vec_id % 11 <> 0
       |  UNION ALL
       |  SELECT vec_id, list_transform(embedding, x -> -x)
       |  FROM corpus WHERE vec_id % 11 = 0),
       |af AS (
       |  SELECT f.vec_id, f.embedding, c.centroid_id,
       |    row_number() OVER (PARTITION BY f.vec_id
       |      ORDER BY ${cosSqlOf("f.embedding", "c.centroid")} DESC, c.centroid_id) AS rk
       |  FROM fin f CROSS JOIN cents c),
       |asgf AS (SELECT vec_id, embedding, centroid_id FROM af WHERE rk = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM corpus
       |  WHERE vec_id IN (0, 2)),
       |qc AS (
       |  SELECT q.qid, c.centroid_id,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosSqlOf("q.qe", "c.centroid")} DESC, c.centroid_id) AS rk
       |  FROM q CROSS JOIN cents c),
       |qprobe AS (SELECT qid, centroid_id FROM qc WHERE rk <= 4),
       |scored AS (
       |  SELECT q.qid, a.vec_id,
       |    round(${cosSqlOf("a.embedding", "q.qe")}, 6) AS cos,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY round(${cosSqlOf("a.embedding", "q.qe")}, 6) DESC, a.vec_id) AS rk
       |  FROM qprobe p
       |  JOIN asgf a ON a.centroid_id = p.centroid_id
       |  JOIN q ON q.qid = p.qid)
       |SELECT qid, vec_id, cos FROM scored WHERE rk <= 10
       |ORDER BY qid, cos DESC, vec_id""".stripMargin

  /** ss13 — cosine RADIUS (ε-)join ([[Similarity.cosineRadiusJoin]]):
    * every augmented-corpus vector within cosine ≥ 0.99 of each probe
    * (every 10th vector), all matches rather than a fixed k — the
    * "find everything this similar" retrieval shape (duplicate sweeps,
    * contamination lookups). Differential oracle, dd06's discipline:
    * DuckDB computes the EXACT all-pairs queries×corpus cosine at the
    * same threshold, so a hash match proves the hyperplane-LSH blocking
    * lost no pair on this corpus. Probes with vec_id < 50 must surface
    * their planted +1000000 copies (cos = 1) as well as themselves. */
  private def ss13(s: SparkSession, d: String): DataFrame = {
    val probes = embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.cosineRadiusJoin(probes, augmentedEmbeddings(s, d), threshold = 0.99)
      .orderBy(col("qid"), col("vec_id"))
  }

  private val ss13Sql: String =
    s"""WITH aug AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 50),
       |q AS (SELECT vec_id AS qid, embedding AS qvec
       |  FROM embeddings WHERE vec_id % 10 = 0)
       |SELECT q.qid, c.vec_id, round(${cosSqlOf("q.qvec", "c.embedding")}, 6) AS cos
       |FROM q JOIN aug c ON ${cosSqlOf("q.qvec", "c.embedding")} >= 0.99
       |ORDER BY qid, vec_id""".stripMargin

  /** ss14 — HARD-NEGATIVE mining ([[Similarity.hardNegatives]]):
    * top-3 most-similar DIFFERENT-label vectors for every vector — the
    * contrastive-training negatives op, i.e. filtered ANN with the
    * label predicate pushed into the narrow candidate stage. Oracle:
    * an exact LSH replay in the ss05 style (interpolated planes, integer
    * banding, exact rescoring) plus the same label-inequality filter, so both
    * the candidates AND the filtered ranking are pinned per vector. */
  private def ss14(s: SparkSession, d: String): DataFrame =
    Similarity.hardNegativesAuto(embeddings(s, d), k = 3, targetBucket = 16)
      .orderBy(col("vec_id"), col("rank"))

  // AUTO-SIZED geometry (the ss05 discipline): the old hand-tuned 32
  // bits were right at sf0.1 and quadratic past it — measured 16.4×
  // wall at 10× data, the suite's worst. targetBucket = 16 (vs the
  // kNN ops' 32): mining wants the CLOSEST different-label vectors,
  // so tighter buckets both halve the candidate bill and bias the
  // pool toward nearer negatives. The oracle re-derives the
  // SAME bits-per-band from count(*) (integer-exact predicate, see
  // [[Similarity.autoBitsPerBand]]) over the 60-plane family (15-bit
  // cap × 4 bands; planes are prefix-stable so unused tails are inert).
  // r16: the per-(anchor, band) hamming cap (default 4·k = 12) is
  // replayed too — bit_count(xor(sig, sig)) with the same
  // (ham, nbr_id) tie order, so the capped candidate pool is
  // bit-identical across engines at every SF.
  private val ss14Sql: String = {
    val planeRows = Similarity.planes(60, Similarity.MaxPlaneDim)
      .zipWithIndex.map { case (pl, p) =>
        s"($p, [${pl.take(64).mkString(", ")}])"
      }.mkString(",\n  ")
    s"""WITH geom AS (SELECT CAST(coalesce(MIN(b), 15) AS INT) AS bits
       |  FROM range(4, 16) t(b)
       |  WHERE (CAST(1 AS BIGINT) << CAST(b AS INT)) * 16 >=
       |    (SELECT count(*) FROM embeddings)),
       |planes(p, pl) AS (VALUES
       |  $planeRows),
       |dots AS (SELECT e.vec_id, pls.p,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> coalesce(CAST(e.embedding[i] AS DOUBLE) * pls.pl[i], 0.0))) AS dot
       |  FROM embeddings e CROSS JOIN planes pls CROSS JOIN geom g
       |  WHERE pls.p < 4 * g.bits),
       |sigs AS (SELECT vec_id,
       |    sum(CASE WHEN dot >= 0.0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
       |        ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM dots GROUP BY vec_id),
       |bands AS (SELECT vec_id,
       |    unnest(list_transform(range(0, 4), b -> {'band': b,
       |      'bits': ((sig >> CAST(b * g.bits AS INT)) &
       |               ((CAST(1 AS BIGINT) << g.bits) - 1))})) AS u
       |  FROM sigs CROSS JOIN geom g),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |met AS (SELECT x.vec_id AS vec_id, y.vec_id AS nbr_id, x.u.band AS band,
       |    bit_count(xor(sx.sig, sy.sig)) AS ham
       |  FROM bands x JOIN bands y
       |    ON x.u.band = y.u.band AND x.u.bits = y.u.bits
       |  JOIN sigs sx ON sx.vec_id = x.vec_id
       |  JOIN sigs sy ON sy.vec_id = y.vec_id
       |  JOIN lab lx ON lx.vec_id = x.vec_id
       |  JOIN lab ly ON ly.vec_id = y.vec_id
       |  WHERE lx.label <> ly.label),
       |capped AS (SELECT vec_id, nbr_id FROM (
       |    SELECT vec_id, nbr_id,
       |      row_number() OVER (PARTITION BY vec_id, band
       |        ORDER BY ham, nbr_id) AS hr
       |    FROM met)
       |  WHERE hr <= 12),
       |cand AS (SELECT DISTINCT vec_id, nbr_id FROM capped),
       |scored AS (SELECT c.vec_id, la.label, c.nbr_id, lb.label AS nbr_label,
       |    round(
       |      list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.vec_id
       |  JOIN embeddings b ON b.vec_id = c.nbr_id
       |  JOIN lab la ON la.vec_id = c.vec_id
       |  JOIN lab lb ON lb.vec_id = c.nbr_id),
       |r AS (SELECT vec_id, label, nbr_id, nbr_label, cos,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, nbr_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT vec_id, label, rank, nbr_id, nbr_label, cos FROM r WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin
  }

  private def ss02(s: SparkSession, d: String): DataFrame =
    Similarity.lshTopK(embeddings(s, d), queryId = 0L, k = 10)

  /** ss05 — batch kNN JOIN ([[Similarity.lshKnnJoinAuto]]): top-3 LSH
    * neighbors for EVERY vector in one pass — the corpus-wide form
    * (per-query probes don't amortize at 100 TB), on AUTO-SIZED bucket
    * geometry: bitsPerBand is derived from the corpus count so expected
    * candidate pairs stay LINEAR in n (fixed 4-bit bands measured 13.7×
    * wall on 10× data; auto held 2.3×). The oracle re-derives the SAME
    * geometry from count(*) — [[Similarity.autoBitsPerBand]] is
    * integer-exact precisely so SQL can replay it — over a 60-plane
    * family (the 15-bit/band cap × 4 bands; [[Similarity.planes]] is
    * prefix-stable, so unused tail planes change nothing). Candidates
    * AND scores stay exact-replayed at every SF. */
  private def ss05(s: SparkSession, d: String): DataFrame =
    Similarity.lshKnnJoinAuto(embeddings(s, d), k = 3)
      .orderBy(col("vec_id"), col("rank"))

  private val ss05Sql: String = {
    val planeRows = Similarity.planes(60, Similarity.MaxPlaneDim)
      .zipWithIndex.map { case (pl, p) =>
        s"($p, [${pl.take(64).mkString(", ")}])"
      }.mkString(",\n  ")
    s"""WITH geom AS (SELECT CAST(coalesce(MIN(b), 15) AS INT) AS bits
       |  FROM range(4, 16) t(b)
       |  WHERE (CAST(1 AS BIGINT) << CAST(b AS INT)) * 32 >=
       |    (SELECT count(*) FROM embeddings)),
       |planes(p, pl) AS (VALUES
       |  $planeRows),
       |dots AS (SELECT e.vec_id, pls.p,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> coalesce(CAST(e.embedding[i] AS DOUBLE) * pls.pl[i], 0.0))) AS dot
       |  FROM embeddings e CROSS JOIN planes pls CROSS JOIN geom g
       |  WHERE pls.p < 4 * g.bits),
       |sigs AS (SELECT vec_id,
       |    sum(CASE WHEN dot >= 0.0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
       |        ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM dots GROUP BY vec_id),
       |bands AS (SELECT vec_id,
       |    unnest(list_transform(range(0, 4), b -> {'band': b,
       |      'bits': ((sig >> CAST(b * g.bits AS INT)) &
       |               ((CAST(1 AS BIGINT) << g.bits) - 1))})) AS u
       |  FROM sigs CROSS JOIN geom g),
       |cand AS (SELECT DISTINCT x.vec_id AS vec_id, y.vec_id AS nbr_id
       |  FROM bands x JOIN bands y
       |    ON x.u.band = y.u.band AND x.u.bits = y.u.bits
       |   AND x.vec_id <> y.vec_id),
       |scored AS (SELECT c.vec_id, c.nbr_id,
       |    round(
       |      list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.vec_id
       |  JOIN embeddings b ON b.vec_id = c.nbr_id),
       |r AS (SELECT vec_id, nbr_id, cos,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, nbr_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT vec_id, rank, nbr_id, cos FROM r WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin
  }

  /** ss02 oracle — exact replica of hyperplane-LSH top-k: the seeded
    * Gaussian planes are INTERPOLATED into the SQL (first 64 components
    * of each 1024-wide plane — the corpus dim; shortest-roundtrip
    * double literals parse back bit-identically), signatures/bands are
    * integer arithmetic, and the exact rescoring reuses the proven ss01
    * dot-product pattern. Per-element `coalesce(x*p, 0)` mirrors the
    * Spark signature's null-padding, so the oracle stays correct for
    * any corpus dim <= 64 and would need wider literals only beyond
    * that. */
  private val ss02Sql: String = {
    val planeRows = Similarity.planes(16, Similarity.MaxPlaneDim)
      .zipWithIndex.map { case (pl, p) =>
        s"($p, [${pl.take(64).mkString(", ")}])"
      }.mkString(",\n  ")
    s"""WITH planes(p, pl) AS (VALUES
       |  $planeRows),
       |dots AS (SELECT e.vec_id, pls.p,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> coalesce(CAST(e.embedding[i] AS DOUBLE) * pls.pl[i], 0.0))) AS dot
       |  FROM embeddings e CROSS JOIN planes pls),
       |sigs AS (SELECT vec_id,
       |    sum(CASE WHEN dot >= 0.0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
       |        ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM dots GROUP BY vec_id),
       |bands AS (SELECT vec_id,
       |    unnest(list_transform(range(0, 4), b -> {'band': b,
       |      'bits': (((sig >> CAST(b*4 AS INT)) & 15))})) AS u
       |  FROM sigs),
       |qb AS (SELECT u.band AS band, u.bits AS bits FROM bands WHERE vec_id = 0),
       |cand AS (SELECT DISTINCT b.vec_id
       |  FROM bands b JOIN qb ON b.u.band = qb.band AND b.u.bits = qb.bits),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id,
       |  round(
       |    list_sum(list_transform(list_zip(e.embedding, q.qe),
       |             s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
       |FROM embeddings e JOIN cand USING (vec_id), q
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  /** ss03 — IVF cell-probed ANN with a one-round spherical-k-means
    * codebook (recall vs brute force pinned in SimilaritySpec). Oracled:
    * every stage is portable arithmetic (see [[ss03Sql]]). */
  private def ss03(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(embeddings(s, d), queryId = 0L, k = 10, kmeansIters = 1)

  /** ss07 — the same IVF probe served from a PERSISTED index
    * ([[Similarity.buildIvfIndex]] / [[Similarity.probeIvfIndex]]): the
    * codebook and cell-partitioned postings are written as lake tables
    * and the probe runs purely against the re-read files — no k-means
    * in the probe, the build-once/serve-many shape a 100 TB corpus
    * requires. Parquet round-trips the codebook floats exactly, so the
    * persisted probe is bit-equal to ss03's in-query pipeline and
    * SHARES its exact-replay oracle — any drift between the persisted
    * and in-memory paths is a correctness failure, not noise. */
  private def ss07(s: SparkSession, d: String): DataFrame = {
    val ix = java.nio.file.Files.createTempDirectory("graft_ss07")
      .resolve("ivf").toString
    Similarity.buildIvfIndex(embeddings(s, d), ix, nCells = 16, kmeansIters = 1)
    Similarity.probeIvfIndex(s, ix,
        embeddings(s, d).filter(col("vec_id") === 0L)
          .select(col("vec_id").as("qid"), col("embedding")),
        k = 10, nProbe = 4)
      .select(col("vec_id"), col("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  /** ss15 — FILTERED ANN through the persisted IVF index
    * ([[Similarity.probeIvfIndex]] with a `where` pre-filter): top-10
    * neighbors of query 0 AMONG vectors with `label = 2` — the
    * "semantic search within a metadata slice" retrieval shape. The
    * predicate applies INSIDE the probed cells (pushed to their parquet
    * scan, pinned in `FilteredAnnSpec`), so candidates never include
    * non-matching rows and the result cannot starve below k the way
    * post-filtering an unfiltered top-k does. The oracle replays the
    * IVF pipeline (ss03's CTE) and restricts the rescore to the same
    * label slice, so a hash match proves the pre-filtered probe is
    * EXACTLY the filtered top-k of the probed cells. */
  private def ss15(s: SparkSession, d: String): DataFrame = {
    val ix = java.nio.file.Files.createTempDirectory("graft_ss15")
      .resolve("ivf").toString
    Similarity.buildIvfIndex(embeddings(s, d), ix, nCells = 16, kmeansIters = 1)
    Similarity.probeIvfIndex(s, ix,
        embeddings(s, d).filter(col("vec_id") === 0L)
          .select(col("vec_id").as("qid"), col("embedding")),
        k = 10, nProbe = 4, where = Some(col("label") === 2))
      .select(col("vec_id"), col("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
  }

  private lazy val ss15Sql: String =
    s"""WITH ${ivfAsg1Cte("embeddings")},
       |qprobe AS (SELECT centroid_id FROM a1 WHERE vec_id = 0 AND rk <= 4),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT a.vec_id, round(${cosSqlOf("a.embedding", "q.qe")}, 6) AS cos
       |FROM asg1 a
       |JOIN qprobe USING (centroid_id)
       |JOIN embeddings e2 ON e2.vec_id = a.vec_id AND e2.label = 2, q
       |ORDER BY cos DESC, a.vec_id
       |LIMIT 10""".stripMargin

  /** ss03 oracle — exact replica of the full IVF pipeline in DuckDB SQL:
    *  1. seed selection: order by the interpolated portable quadratic
    *     hash of vec_id (same splitmix-derived family as dd02), take 16;
    *  2. one Lloyd round: assign every vector to its nearest seed by
    *     cosine (`dot/sqrt(nx*ny)`, the exact [[graft.functions.CosineSimilarity]]
    *     arithmetic — note sqrt of the PRODUCT, matching the fused loop),
    *     then the per-(cell, position) FIXED-POINT mean: values scale by
    *     2^24, round to integers, sum exactly (HUGEINT here,
    *     decimal(38,0) in Spark — integer addition is associative, so
    *     neither engine's aggregation order matters), divide back down;
    *     means narrow to FLOAT exactly like the Spark `.cast("float")`;
    *  3. probe: re-assign the corpus to the new codebook, take the
    *     query's 4 nearest cells, exact-rescore members, top-10.
    * Ties in assignment break on centroid_id in both engines. */
  /** dd11 — SemDeDup ([[Similarity.semanticDedup]], Abbas et al. 2023):
    * cluster the (augmented) embedding corpus with the oracled IVF
    * codebook, drop every vector with a rounded-cosine ≥ 0.999 neighbor
    * of smaller id inside its cell. The planted exact copies (dd05's
    * augmentation) are the ground truth: a copy is bit-identical to its
    * source, so it shares the source's cell and cosine 1.0 → every
    * planted id must be dropped and nothing else reaches 0.999 on the
    * uniform-random corpus. Output = kept (vec_id, centroid_id): the
    * cell column makes the check sensitive to the entire codebook, not
    * just the drop set. AUTO-SIZED cells ([[Similarity
    * .semanticDedupAuto]]): fixed 16 cells measured 6.3× wall at 10×
    * data (per-cell pairs are quadratic in cell size); sqrt(n) cells
    * keep pair work linear, and the oracle re-derives the SAME count
    * from count(*). */
  private def dd11(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDedupAuto(augmentedEmbeddings(s, d), threshold = 0.999)
      .orderBy(col("vec_id"))

  private val dd11Sql: String =
    s"""WITH aug AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 50),
       |${ivfAsg1Cte("aug", autoCells = true)},
       |dropped AS (SELECT DISTINCT y.vec_id
       |  FROM asg1 x JOIN asg1 y
       |    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
       |  WHERE round(${cosSqlOf("x.embedding", "y.embedding")}, 6) >= 0.999),
       |kept AS (SELECT a.vec_id, a.centroid_id FROM asg1 a
       |  LEFT JOIN dropped d ON d.vec_id = a.vec_id WHERE d.vec_id IS NULL)
       |SELECT vec_id, centroid_id FROM kept
       |ORDER BY vec_id""".stripMargin

  /** dd12 — content-defined chunking ([[Dedup.contentChunks]]): chunk
    * the augmented corpus on rolling-hash boundaries and report every
    * chunk fingerprint shared across documents — shareable storage, the
    * rsync/backup-dedup angle the document-level dedups (dd01-dd09)
    * don't cover. Planted near-copies share their source's prefix
    * chunks by construction (content-defined boundaries don't shift),
    * so the shared set is large and fully deterministic; the oracle
    * replays the rolling hash, the boundary rule, the window cumsum
    * chunk assignment, and the per-chunk fold exactly. */
  private def dd12(s: SparkSession, d: String): DataFrame =
    Dedup.contentChunks(Dedup.augmentWithNearDups(documents(s, d)))
      .groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("chunk_fp"))

  private val dd12Sql =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' dup' FROM documents WHERE doc_id < 50),
      |th AS (SELECT doc_id,
      |  list_transform(string_split(text, ' '),
      |    t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
      |      (a, c) -> (a*31 + c) % 1000000007)) AS ths
      |  FROM aug),
      |pos0 AS (SELECT doc_id, ths, unnest(range(1, len(ths)+1)) AS pos FROM th),
      |rolled AS (SELECT doc_id, pos, ths[CAST(pos AS INT)] AS th,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      ths[CAST(greatest(1, pos - 3) AS INT):CAST(pos AS INT)]),
      |      (a, c) -> (a*131 + c) % 1000000007) AS roll
      |  FROM pos0),
      |flagged AS (SELECT doc_id, pos, th,
      |    CASE WHEN roll % 16 = 0 THEN 1 ELSE 0 END AS b
      |  FROM rolled),
      |chunked AS (SELECT doc_id, pos, th,
      |    CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chunk_id
      |  FROM flagged),
      |fp AS (SELECT doc_id, chunk_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(th ORDER BY pos)),
      |      (a, x) -> (a*131 + x) % 1000000007) AS chunk_fp
      |  FROM chunked GROUP BY doc_id, chunk_id)
      |SELECT chunk_fp, CAST(count(*) AS BIGINT) AS n_occ,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM fp GROUP BY chunk_fp HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY chunk_fp""".stripMargin

  private val Bm25Terms = Seq("merge", "spark", "window")

  /** tx14 — BM25 keyword retrieval ([[Retrieval.bm25TopK]]): top-10
    * documents for a 3-term query under the Lucene-style
    * never-negative idf. Lexical retrieval is the other half of a RAG
    * serving stack next to the ANN family; term stats are integer
    * counts, the score is closed-form double arithmetic, and per-doc
    * contributions fold in sorted term order, so the oracle replays the
    * ranking bit-for-bit. */
  private def tx14(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25TopK(documents(s, d), Bm25Terms, k = 10)

  /** The BM25 scoring pipeline as a WITH-body fragment (shared by the
    * tx14 and ss10 oracles so they can never drift). Emits `bmscore` =
    * (doc_id, bm25). */
  private val bm25Cte =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
      |stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS BIGINT) AS n_docs FROM dl),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
      |  WHERE term IN ('merge', 'spark', 'window') GROUP BY doc_id, term),
      |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |sc AS (SELECT tf.doc_id, tf.term,
      |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * tf.tf /
      |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS sterm
      |  FROM tf JOIN dfx d USING (term) JOIN dl l USING (doc_id) CROSS JOIN stats s),
      |bmscore AS (SELECT doc_id, round(list_sum(list(sterm ORDER BY term)), 6) AS bm25
      |  FROM sc GROUP BY doc_id)""".stripMargin

  private val tx14Sql =
    s"""WITH $bm25Cte
       |SELECT doc_id, bm25 FROM bmscore
       |ORDER BY bm25 DESC, doc_id
       |LIMIT 10""".stripMargin

  /** tx15 — lexical diversity: type-token ratio and hapax fraction per
    * document — the vocabulary-richness quality signals (a TTR near 0
    * flags machine-generated or boilerplate text; a hapax fraction near
    * 1 flags noise/garbage) that complement tx09's repetition signals.
    * Shape: one token explode + two hash-aggs, all partial-aggregable;
    * the ratios are row-local double math at the end. */
  private def tx15(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        stableRound6(col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        stableRound6(col("n_hapax").cast("double") / col("n_types")).as("hapax_frac"))
      .orderBy(col("doc_id"))

  private val tx15Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  floor(count(*)/CAST(sum(c) AS DOUBLE) * 1000000.0 + 0.5)/1000000.0 AS ttr,
      |  floor(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)/CAST(count(*) AS DOUBLE)
      |    * 1000000.0 + 0.5)/1000000.0 AS hapax_frac
      |FROM cnt GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** tx16 — PMI collocations (Church & Hanks 1990): corpus-level
    * pointwise mutual information `ln(c_ab · N / (c_a · c_b))` over
    * bigrams with support ≥ 5, N = total token instances — the
    * collocation miner feeding tokenizer-merge candidates and phrase
    * vocabularies. Scale shape: two explode + hash-agg passes (unigrams,
    * bigrams), the 1-row total broadcast-joined, then the bigram frame
    * joins the unigram counts twice on the token key — vocabulary-sized
    * shuffles, never corpus-pairs. Ranked by ROUNDED score so the
    * cross-engine order is stable, tie-break on the bigram text. */
  private def tx16(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(explode(TF.tokens(col("text"))).as("t"))
    val uni = toks.groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).as("n_tok"))
    val big = documents(s, d)
      .select(explode(TF.shingles(col("text"), 2)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 5)
    big
      .withColumn("lt", split(col("b"), " ").getItem(0))
      .withColumn("rt", split(col("b"), " ").getItem(1))
      .join(uni.select(col("t").as("lt"), col("cu").as("ca")), "lt")
      .join(uni.select(col("t").as("rt"), col("cu").as("cb")), "rt")
      .join(broadcast(total))
      .select(col("b").as("bigram"), col("cab"),
        stableRound6(log((col("cab").cast("double") * col("n_tok")) /
          (col("ca").cast("double") * col("cb")))).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(20)
  }

  private val tx16Sql =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS cu FROM tok GROUP BY t),
      |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n_tok FROM uni),
      |toks2 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bg AS (SELECT unnest(list_transform(range(1, len(ts)),
      |    i -> ts[i] || ' ' || ts[i+1])) AS b FROM toks2),
      |big AS (SELECT b, CAST(count(*) AS BIGINT) AS cab FROM bg
      |  GROUP BY b HAVING count(*) >= 5)
      |SELECT big.b AS bigram, cab,
      |  floor(ln((CAST(cab AS DOUBLE) * n_tok) /
      |    (CAST(l.cu AS DOUBLE) * r.cu)) * 1000000.0 + 0.5)/1000000.0 AS pmi
      |FROM big
      |JOIN uni l ON l.t = string_split(big.b, ' ')[1]
      |JOIN uni r ON r.t = string_split(big.b, ' ')[2]
      |CROSS JOIN tot
      |ORDER BY pmi DESC, bigram
      |LIMIT 20""".stripMargin

  /** tx17 — CCNet-style perplexity buckets (Wenzek et al. 2020,
    * arXiv:1911.00359): each document scored by its PER-LANGUAGE bigram
    * LM (tx07's estimator conditioned on `lang`), then bucketed
    * head/middle/tail by per-language score TERCILES — the standard
    * "keep the head, audit the middle, drop the tail" quality gate for
    * crawl corpora. The tercile cuts are NOT a global sort/ntile (the
    * single-task scale-killer): scores collapse to an integer histogram
    * (`floor(score·1000)` — floor on identical doubles is
    * tie-free cross-engine, unlike round's half-handling), a cumsum
    * window runs over that bounded frame (|langs| × ~few-thousand
    * buckets regardless of corpus size), and the two cut values per
    * language broadcast back as a row-local CASE — the
    * histogram-then-broadcast-threshold shape [[Sampling]] uses.
    * Output is the per-(lang, bucket) doc count + score range, which
    * pins both the LM and the cut placement. */
  private def tx17(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
    val bigrams = docs.select(col("doc_id"), col("lang"),
      explode(TF.shingles(col("text"), 2)).as("bigram"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val bigramCounts = bigrams.groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("cb"))
    val unigramCounts = docs
      .select(col("lang"), explode(TF.tokens(col("text"))).as("w1"))
      .groupBy(col("lang"), col("w1")).agg(count(lit(1)).as("cu"))
    // model tables are vocab-sized → broadcast; scoring stays narrow.
    // Scoring is FIXED-POINT: each log-prob term quantizes to an
    // integer (floor(lp·1e6+.5), exact in both engines), the per-doc
    // sum is integer arithmetic (order-independent — avg over doubles
    // is summation-order dependent and could flip a histogram cell on
    // a rounding boundary), and the mean is ONE double division of
    // identical integers, so the doubles are bit-identical cross-engine.
    val scores = bigrams
      .join(broadcast(bigramCounts), Seq("lang", "bigram"))
      .join(broadcast(unigramCounts), Seq("lang", "w1"))
      .withColumn("lp_fp",
        floor((log(col("cb").cast("double")) - log(col("cu").cast("double")))
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("lp_fp")).as("slp"), count(lit(1)).as("nb"))
      .withColumn("score", col("slp").cast("double") / (col("nb") * lit(1000000.0)))
      .withColumn("s3", floor(col("score") * 1000).cast("long"))
    val hist = scores.groupBy(col("lang"), col("s3")).agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(col("lang")).orderBy(col("s3"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = hist
      .withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
      .groupBy(col("lang"))
      .agg(min(when(col("cum") * 3 >= col("n"), col("s3"))).as("t1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("s3"))).as("t2"))
    scores.join(broadcast(cuts), "lang")
      .withColumn("bucket",
        when(col("s3") <= col("t1"), lit("tail"))
          .when(col("s3") <= col("t2"), lit("middle"))
          .otherwise(lit("head")))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .orderBy(col("lang"), col("bucket"))
  }

  private val tx17Sql =
    """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      |bg AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i+1])) AS bigram FROM toks),
      |bg2 AS (SELECT doc_id, lang, bigram,
      |    string_split(bigram, ' ')[1] AS w1 FROM bg),
      |bc AS (SELECT lang, bigram, count(*) AS cb FROM bg2 GROUP BY 1, 2),
      |uc AS (SELECT lang, unnest(string_split(text, ' ')) AS w1 FROM documents),
      |ucc AS (SELECT lang, w1, count(*) AS cu FROM uc GROUP BY 1, 2),
      |sc AS (SELECT b.doc_id, b.lang,
      |    CAST(sum(CAST(floor((ln(CAST(cb AS DOUBLE)) - ln(CAST(cu AS DOUBLE)))
      |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS slp,
      |    CAST(count(*) AS BIGINT) AS nb
      |  FROM bg2 b
      |  JOIN bc ON bc.lang = b.lang AND bc.bigram = b.bigram
      |  JOIN ucc ON ucc.lang = b.lang AND ucc.w1 = b.w1
      |  GROUP BY 1, 2),
      |sc2 AS (SELECT doc_id, lang,
      |    CAST(slp AS DOUBLE) / (nb * 1000000.0) AS score FROM sc),
      |s3 AS (SELECT doc_id, lang, score,
      |    CAST(floor(score * 1000) AS BIGINT) AS s3 FROM sc2),
      |hist AS (SELECT lang, s3, count(*) AS c FROM s3 GROUP BY 1, 2),
      |cum AS (SELECT lang, s3,
      |    sum(c) OVER (PARTITION BY lang ORDER BY s3) AS cum,
      |    sum(c) OVER (PARTITION BY lang) AS n FROM hist),
      |cuts AS (SELECT lang,
      |    min(CASE WHEN cum * 3 >= n THEN s3 END) AS t1,
      |    min(CASE WHEN cum * 3 >= 2 * n THEN s3 END) AS t2
      |  FROM cum GROUP BY lang)
      |SELECT d.lang,
      |  CASE WHEN d.s3 <= t1 THEN 'tail'
      |       WHEN d.s3 <= t2 THEN 'middle' ELSE 'head' END AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  min(score) AS min_score, max(score) AS max_score
      |FROM s3 d JOIN cuts USING (lang)
      |GROUP BY 1, 2
      |ORDER BY lang, bucket""".stripMargin

  /** ss10 — HYBRID retrieval via reciprocal-rank fusion
    * ([[Retrieval.rrfFuse]], Cormack et al. 2009): the BM25 top-10
    * (tx14's lexical ranking) fused with the exact-cosine top-10 (ss01's
    * vector ranking) by `Σ 1/(60 + rank)` — rank-based, so no score
    * normalization across modalities. The oracle replays both retrievals
    * AND the fusion fold (contributions ordered by source label). */
  private def ss10(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bmRank = Retrieval.bm25TopK(documents(s, d), Bm25Terms, k = 10)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val annRank = Similarity.bruteForceTopK(embeddings(s, d), queryId = 0L, k = 10)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq("ann" -> annRank, "bm25" -> bmRank), k = 10)
  }

  private val ss10Sql =
    s"""WITH $bm25Cte,
       |bmtop AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
       |  FROM (SELECT doc_id, bm25 FROM bmscore ORDER BY bm25 DESC, doc_id LIMIT 10)),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |anns AS (SELECT e.vec_id AS doc_id,
       |    round(${cosSqlOf("e.embedding", "q.qe")}, 6) AS cos
       |  FROM embeddings e, q
       |  ORDER BY cos DESC, doc_id LIMIT 10),
       |anntop AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rnk FROM anns),
       |u AS (
       |  SELECT doc_id, 1.0 / (60 + rnk) AS contrib, 'ann' AS src FROM anntop
       |  UNION ALL
       |  SELECT doc_id, 1.0 / (60 + rnk) AS contrib, 'bm25' AS src FROM bmtop)
       |SELECT doc_id, round(list_sum(list(contrib ORDER BY src)), 6) AS rrf
       |FROM u GROUP BY doc_id
       |ORDER BY rrf DESC, doc_id
       |LIMIT 10""".stripMargin

  /** dd16 — substring-CONTAINMENT dedup ([[Dedup.containmentDups]]):
    * every doc that is a verbatim token-aligned span of another doc in
    * the excerpt-augmented corpus — the quotes/excerpt/wrapper-page
    * case resemblance dedup misses (an 18-token excerpt of a 100-token
    * doc has Jaccard ≈ 0.18, far under any near-dup threshold). The
    * oracle is the EXACT ALL-PAIRS containment check, so the hash match
    * proves the first-gram blocking lost no pair (the dd04 differential
    * discipline). */
  private def dd16(s: SparkSession, d: String): DataFrame =
    Dedup.containmentDups(Dedup.augmentWithExcerpts(documents(s, d)))

  private val dd16Sql =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    array_to_string(string_split(text, ' ')[3:20], ' ')
      |  FROM documents
      |  WHERE doc_id < 50 AND len(string_split(text, ' ')) >= 25),
      |elig AS (SELECT doc_id, text FROM aug
      |  WHERE len(string_split(text, ' ')) >= 8)
      |SELECT a.doc_id AS contained_id, b.doc_id AS container_id
      |FROM elig a JOIN aug b ON a.doc_id <> b.doc_id
      |WHERE contains(' ' || b.text || ' ', ' ' || a.text || ' ')
      |ORDER BY contained_id, container_id""".stripMargin

  /** dd14 — EXACT duplicated-substring spans
    * ([[Dedup.duplicatedSpans]], Lee et al. 2022 exact-substring
    * family): every 8-token gram occurring >= 2 times anywhere in the
    * augmented corpus marks positions; positions merge into maximal
    * per-doc spans. Planted near-copies duplicate their source's whole
    * token stream, so source and copy must both surface one long span —
    * and the EXACT property (vs dd08's sampled winnowing) means any
    * natural 8-gram repeat must surface too. The oracle replays token
    * hashing, the rolling gram fold, the global >=2 count, and the
    * gaps-and-islands merge. */
  private def dd14(s: SparkSession, d: String): DataFrame =
    Dedup.duplicatedSpans(Dedup.augmentWithNearDups(documents(s, d)), width = 8)
      .orderBy(col("doc_id"), col("span_start"))

  private val dd14Sql =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' dup' FROM documents WHERE doc_id < 50),
      |th AS (SELECT doc_id,
      |  list_transform(string_split(text, ' '),
      |    t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
      |      (a, c) -> (a*31 + c) % 1000000007)) AS ths
      |  FROM aug),
      |g AS (SELECT doc_id, ths,
      |    unnest(range(0, greatest(len(ths) - 7, 0))) AS gpos
      |  FROM th),
      |grams AS (SELECT doc_id, CAST(gpos AS INTEGER) AS gpos,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      ths[CAST(gpos + 1 AS INT):CAST(gpos + 8 AS INT)]),
      |      (a, x) -> (a*131 + x) % 1000000007) AS h
      |  FROM g),
      |dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
      |dp AS (SELECT doc_id, gpos FROM grams JOIN dup USING (h)),
      |isl AS (SELECT doc_id, gpos,
      |    CASE WHEN lag(gpos) OVER (PARTITION BY doc_id ORDER BY gpos) IS NULL
      |           OR gpos - lag(gpos) OVER (PARTITION BY doc_id ORDER BY gpos) > 8
      |         THEN 1 ELSE 0 END AS ns
      |  FROM dp),
      |sp AS (SELECT doc_id, gpos,
      |    sum(ns) OVER (PARTITION BY doc_id ORDER BY gpos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      |  FROM isl)
      |SELECT doc_id, CAST(min(gpos) AS INTEGER) AS span_start,
      |  CAST(max(gpos) + 7 AS INTEGER) AS span_end,
      |  CAST(count(*) AS BIGINT) AS n_grams
      |FROM sp GROUP BY doc_id, span_id
      |ORDER BY doc_id, span_start""".stripMargin

  /** ss06 — MMR diversified rerank ([[Similarity.mmrRerank]], λ = 0.7):
    * exact top-10 retrieval for query vector 0, then 3 greedy MMR
    * selections. The oracle unrolls the greedy rounds with the SAME
    * doubles: cosines rounded to 1e-6 before scoring, and the (1−λ)
    * weight interpolated as Scala's shortest-roundtrip `1.0 - 0.7`
    * (0.30000000000000004) — writing `0.3` would be a DIFFERENT double
    * and could flip an argmax. Ties break on vec_id everywhere. */
  private def ss06(s: SparkSession, d: String): DataFrame =
    Similarity.mmrRerank(embeddings(s, d), queryId = 0L, poolK = 10, k = 3,
        lambda = 0.7)
      .orderBy(col("rank"))

  private val ss06Sql: String = {
    val lam = 0.7
    val oneMinus = 1.0 - lam // interpolates as the exact double
    def selectedUnion(r: Int) =
      (1 until r).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
    val rounds = (2 to 3).map { r =>
      s"""c$r AS (SELECT p.vec_id, p.cos,
         |    round(p.cos * $lam - (SELECT max(sim) FROM pw
         |      WHERE pw.a = p.vec_id
         |        AND pw.b IN (${selectedUnion(r)})) * $oneMinus, 6) AS mmr
         |  FROM pool p WHERE p.vec_id NOT IN (${selectedUnion(r)})),
         |s$r AS (SELECT $r AS rank, vec_id, cos, mmr FROM c$r
         |  ORDER BY mmr DESC, vec_id LIMIT 1)"""
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |pool AS (SELECT e.vec_id,
       |    round(${cosSqlOf("e.embedding", "q.qe")}, 6) AS cos
       |  FROM embeddings e, q ORDER BY cos DESC, vec_id LIMIT 10),
       |pe AS (SELECT p.vec_id, e.embedding
       |  FROM pool p JOIN embeddings e USING (vec_id)),
       |pw AS (SELECT x.vec_id AS a, y.vec_id AS b,
       |    round(${cosSqlOf("x.embedding", "y.embedding")}, 6) AS sim
       |  FROM pe x CROSS JOIN pe y),
       |s1 AS (SELECT 1 AS rank, vec_id, cos, round(cos * $lam, 6) AS mmr
       |  FROM pool ORDER BY cos DESC, vec_id LIMIT 1),
       |$rounds
       |SELECT rank, vec_id, cos, mmr FROM s1
       |UNION ALL SELECT rank, vec_id, cos, mmr FROM s2
       |UNION ALL SELECT rank, vec_id, cos, mmr FROM s3
       |ORDER BY rank""".stripMargin
  }

  /** Guarded double-precision cosine as DuckDB SQL — the exact
    * [[graft.functions.CosineSimilarity]] fused-loop arithmetic (sqrt of
    * the norm PRODUCT). Shared by the ss03 and dd11 oracles. */
  private def cosSqlOf(e: String, c: String): String =
    s"""CASE WHEN list_sum(list_transform($e, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) = 0.0
       |      OR list_sum(list_transform($c, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) = 0.0
       |    THEN 0.0
       |    ELSE list_sum(list_transform(list_zip($e, $c),
       |           z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |      / sqrt(list_sum(list_transform($e, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
       |           * list_sum(list_transform($c, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |    END""".stripMargin

  /** The IVF pipeline (portable seed hash -> 16 seeds -> one Lloyd
    * round with the fixed-point mean -> final assignment `asg1`) as a
    * WITH-body fragment over corpus relation `rel` — shared verbatim by
    * the ss03 and dd11 oracles so the two queries can never drift.
    * NOTE the doubled modulo: Spark's pmod is always non-negative while
    * DuckDB's % is sign-preserving, so the SQL mirrors pmod explicitly —
    * seed selection stays aligned even for a fixture with negative ids. */
  private def ivfAsg1Cte(rel: String, autoCells: Boolean = false): String = {
    val (sa, sb, sc) = Similarity.SeedSelConsts
    // autoCells replays [[Similarity.autoCells]]' sqrt(n) rule from
    // count(*): round-half and IEEE sqrt agree across engines for
    // integer n (sqrt(n) is never exactly a .5), so both sides derive
    // the SAME cell count. Seeds then come from a row_number cutoff
    // instead of a literal LIMIT.
    val seeds =
      if (autoCells)
        s"""geo AS (SELECT CAST(least(65536, greatest(16,
           |    CAST(round(sqrt(CAST((SELECT count(*) FROM $rel) AS DOUBLE))) AS BIGINT)))
           |  AS BIGINT) AS cells),
           |seeds AS (
           |  SELECT vec_id AS centroid_id, embedding AS centroid
           |  FROM (SELECT vec_id, embedding,
           |          row_number() OVER (ORDER BY h, vec_id) AS srk FROM hp)
           |  CROSS JOIN geo WHERE srk <= geo.cells),"""
      else
        s"""seeds AS (
           |  SELECT vec_id AS centroid_id, embedding AS centroid
           |  FROM hp ORDER BY h, vec_id LIMIT 16),"""
    s"""hp AS (
       |  SELECT vec_id, embedding,
       |    ((($sa * (((((vec_id % 1000000007) + 1000000007) % 1000000007)
       |              * (((vec_id % 1000000007) + 1000000007) % 1000000007)) % 1000000007)
       |     + $sb * (((vec_id % 1000000007) + 1000000007) % 1000000007)
       |     + $sc) % 1000000007) + 1000000007) % 1000000007 AS h
       |  FROM $rel),
       |$seeds
       |a0 AS (
       |  SELECT e.vec_id, e.embedding, s.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSqlOf("e.embedding", "s.centroid")} DESC, s.centroid_id) AS rk
       |  FROM $rel e CROSS JOIN seeds s),
       |asg0 AS (SELECT vec_id, embedding, centroid_id FROM a0 WHERE rk = 1),
       |mexp AS (
       |  SELECT centroid_id, unnest(range(0, len(embedding))) AS pos, embedding
       |  FROM asg0),
       |mv AS (
       |  SELECT centroid_id, pos,
       |    CAST(embedding[CAST(pos AS INT) + 1] AS DOUBLE) AS v
       |  FROM mexp),
       |means AS (
       |  SELECT centroid_id, pos,
       |    CAST(sum(CAST(round(v * 16777216.0) AS HUGEINT)) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) / 16777216.0 AS m
       |  FROM mv GROUP BY centroid_id, pos),
       |cents AS (
       |  SELECT centroid_id, list(CAST(m AS FLOAT) ORDER BY pos) AS centroid
       |  FROM means GROUP BY centroid_id),
       |a1 AS (
       |  SELECT e.vec_id, e.embedding, c.centroid_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSqlOf("e.embedding", "c.centroid")} DESC, c.centroid_id) AS rk
       |  FROM $rel e CROSS JOIN cents c),
       |asg1 AS (SELECT vec_id, embedding, centroid_id FROM a1 WHERE rk = 1)"""
  }

  private val ss03Sql: String = {
    // SUMMATION-ORDER ASSUMPTION, pinned: the double-precision cosine
    // (cosSqlOf) relies on DuckDB's `list_sum` reducing the list
    // SEQUENTIALLY left-to-right (element order), the same order Spark's
    // fused CosineSimilarity loop walks the array — float addition is
    // not associative, so a pairwise/SIMD-reordered sum could flip a
    // nearest-centroid tie and change the codebook. This holds in the
    // DuckDB the driver ships (verified: ss03 hash-matches at sf0.01,
    // where reordering any of the 16M additions would surface); if a
    // future DuckDB vectorizes list_sum into a tree reduction, the
    // oracle (not the engine) must switch to an explicit ordered
    // list_reduce. The fixed-point centroid MEAN is immune by design
    // (integer addition IS associative — that's why 2^24 scaling
    // exists); only the cosine rescoring carries this assumption.
    s"""WITH ${ivfAsg1Cte("embeddings")},
       |qprobe AS (SELECT centroid_id FROM a1 WHERE vec_id = 0 AND rk <= 4),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT a.vec_id, round(${cosSqlOf("a.embedding", "q.qe")}, 6) AS cos
       |FROM asg1 a JOIN qprobe USING (centroid_id), q
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  /** ss04 — ANN-vs-exact overlap as driver-checkable rows. The checkable
    * invariant must hold for ANY corpus (embedding values differ per sf
    * dir): the query vector collides with itself on every LSH band and
    * its own IVF cell is always probed, so each method's top-10 shares at
    * least the query row with the brute-force top-10 → `overlap_nonempty`
    * is a guarantee, not an observation. The exact recall@10 VALUES are
    * corpus-specific (uniform-random embeddings: best cosine ≈ 0.37 —
    * the hardest case for bucketing ANN) and are pinned per-corpus in
    * SimilaritySpec instead. */
  private def ss04(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val brute = Similarity.bruteForceTopK(e, queryId = 0L, k = 10).select(col("vec_id"))
    def overlap(ann: DataFrame, method: String) =
      ann.select(col("vec_id")).join(brute, "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(method).as("method"), lit(10).as("k"),
          (col("n_overlap") >= 1).as("overlap_nonempty"))
    overlap(Similarity.ivfTopK(e, 0L, 10), "ivf")
      .union(overlap(Similarity.lshTopK(e, 0L, 10), "lsh"))
      .orderBy(col("method"))
  }

  private val ss04Sql =
    """SELECT 'ivf' AS method, 10 AS k, true AS overlap_nonempty
      |UNION ALL
      |SELECT 'lsh' AS method, 10 AS k, true AS overlap_nonempty
      |ORDER BY method""".stripMargin

  // ---------------- multimodal ----------------

  private def mm01(s: SparkSession, d: String): DataFrame =
    Multimodal.mediaCorpus(documents(s, d))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        round(avg(length(col("payload")).cast("double")), 6).as("avg_bytes"))
      .orderBy(col("format"))

  private val mm01Sql =
    """SELECT CASE (ascii(substring(text, 1, 1)) % 3)
      |         WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'wav' END AS format,
      |  CAST(count(*) AS BIGINT) AS n_media,
      |  round(avg(CAST(octet_length(encode(text)) AS DOUBLE)), 6) AS avg_bytes
      |FROM documents
      |GROUP BY 1
      |ORDER BY format""".stripMargin

  /** mm02 — stubbed codec features (see Multimodal.decodeStub), now
    * ORACLED: the stub's byte-fold arithmetic is fully specified (exact
    * integer bin sums, one double divide narrowed to float), so DuckDB
    * reproduces the identical float features from the text's ASCII
    * bytes. Features serialize as 1e4-scaled INTEGERS pipe-joined into
    * one string — integer formatting is engine-identical, where double
    * formatting is not (Java flips to scientific notation), and the
    * driver's pandas harness cannot sort/hash array cells. */
  private def mm02(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.mediaCorpus(documents(s, d)))
      .select(col("media_id"), col("format"), col("byte_len"),
        array_join(transform(col("features"),
          x => floor(x.cast("double") * 10000 + 0.5).cast("long").cast("string")),
          "|").as("features"))
      .orderBy(col("media_id"))

  private val mm02Sql =
    """WITH m AS (
      |  SELECT doc_id AS media_id, text,
      |    CASE (ascii(substring(text, 1, 1)) % 3)
      |      WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'wav' END AS format,
      |    octet_length(encode(text)) AS byte_len
      |  FROM documents)
      |SELECT media_id, format, CAST(byte_len AS INTEGER) AS byte_len,
      |  array_to_string(list_transform(range(0, 8), j ->
      |    CAST(CAST(floor(CAST(CAST(
      |      coalesce(list_sum(list_transform(list_filter(range(1, byte_len + 1),
      |        i -> ((i - 1) % 8) = j), i -> CAST(ascii(text[i]) AS DOUBLE))), 0.0)
      |      / greatest(CAST(byte_len AS DOUBLE), 1.0) AS FLOAT) AS DOUBLE)
      |      * 10000 + 0.5) AS BIGINT) AS VARCHAR)), '|') AS features
      |FROM m
      |ORDER BY media_id""".stripMargin

  /** mm04 — deterministic stride resize: payload downsampled to ≤16
    * bytes via integer-division stride sampling, emitted as a string
    * (payloads are the documents' ASCII bytes, so byte == char and the
    * oracle rebuilds the same sample with substring arithmetic). Covers
    * the bounded-output resize contract in CORRECTNESS, not just specs. */
  private def mm04(s: SparkSession, d: String): DataFrame =
    Multimodal.resize(Multimodal.mediaCorpus(documents(s, d)))
      .select(col("media_id"), col("format"),
        length(col("resized")).as("resized_len"),
        col("resized").cast("string").as("resized_str"))
      .orderBy(col("media_id"))

  private val mm04Sql =
    """WITH m AS (
      |  SELECT doc_id AS media_id, text,
      |    CASE (ascii(substring(text, 1, 1)) % 3)
      |      WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'wav' END AS format,
      |    length(text) AS n
      |  FROM documents)
      |SELECT media_id, format,
      |  CAST(CASE WHEN n <= 16 THEN n ELSE 16 END AS INTEGER) AS resized_len,
      |  CASE WHEN n <= 16 THEN text
      |       ELSE list_aggr(list_transform(range(0, 16),
      |         i -> substring(text, CAST((i*n) // 16 AS INT) + 1, 1)), 'string_agg', '')
      |  END AS resized_str
      |FROM m
      |ORDER BY media_id""".stripMargin

  /** mm03 — frame sampling summary. The chunk arithmetic (ceil splits,
    * every-4th kept) is reproducible in SQL, so this one IS oracled. */
  private def mm03(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.mediaCorpus(documents(s, d)))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_frames").cast("long")).as("total_frames"),
        sum(col("sampled_frames").cast("long")).as("total_sampled"))
      .orderBy(col("format"))

  private val mm03Sql =
    """SELECT CASE (ascii(substring(text, 1, 1)) % 3)
      |         WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'wav' END AS format,
      |  CAST(count(*) AS BIGINT) AS n_media,
      |  CAST(sum(CAST(ceil(octet_length(encode(text)) / 32.0) AS BIGINT)) AS BIGINT) AS total_frames,
      |  CAST(sum(CAST(ceil(ceil(octet_length(encode(text)) / 32.0) / 4.0) AS BIGINT)) AS BIGINT) AS total_sampled
      |FROM documents
      |GROUP BY 1
      |ORDER BY format""".stripMargin

  /** tx18 — ZIPF SLOPE per language: least-squares slope of
    * log(freq) vs log(rank) over each language's 200 most frequent
    * terms (the corpus-health statistic — natural text sits near −1;
    * templated/spammy corpora drift off it). The regression runs in
    * the tx17 fixed-point discipline: each log quantizes to an integer
    * (`floor(ln·1e6+.5)`, exact in both engines), all five regression
    * sums are BIGINT (order-independent), and the slope is ONE double
    * division of exact DECIMAL(38,0)/HUGEINT combinations — no
    * float-summation-order caveat anywhere. The rank window runs over
    * the already-aggregated (lang, term, freq) vocabulary — orders of
    * magnitude smaller than the corpus — with freq-desc/term-asc
    * giving a cross-engine-deterministic total order. */
  private def tx18(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tfc = documents(s, d)
      .select(col("lang"), explode(TF.tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("lang")).orderBy(col("freq").desc, col("term"))
    val fp = tfc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 200)
      .select(col("lang"),
        floor(log(col("rank").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("lx"),
        floor(log(col("freq").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("ly"))
    fp.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sxx"))
      // n·Sxy can reach ~3e19 — past BIGINT — so the combination runs
      // in DECIMAL(38,0) (HUGEINT on the oracle side) before the one
      // double division
      .select(col("lang"), col("n_terms"),
        (floor(
          (col("n_terms").cast("decimal(38,0)") * col("sxy") -
            col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
            (col("n_terms").cast("decimal(38,0)") * col("sxx") -
              col("sx").cast("decimal(38,0)") * col("sx")).cast("double") *
            lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("zipf_slope"))
      .orderBy(col("lang"))
  }

  private val tx18Sql =
    """WITH tf AS (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
      |tfc AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS freq FROM tf GROUP BY 1, 2),
      |rk AS (SELECT lang, term, freq,
      |    row_number() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rank FROM tfc),
      |fp AS (SELECT lang,
      |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lx,
      |    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS ly
      |  FROM rk WHERE rank <= 200),
      |agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
      |    CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
      |    CAST(sum(lx * ly) AS BIGINT) AS sxy, CAST(sum(lx * lx) AS BIGINT) AS sxx
      |  FROM fp GROUP BY lang)
      |SELECT lang, n_terms,
      |  floor(CAST(CAST(n_terms AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
      |      / CAST(CAST(n_terms AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
      |      * 1000000.0 + 0.5) / 1000000.0 AS zipf_slope
      |FROM agg ORDER BY lang""".stripMargin

  /** tx19 — VOCABULARY GROWTH curve (Heaps' law): cumulative distinct
    * terms vs cumulative tokens at 20 equal-width doc-id checkpoints.
    * The sequential-looking "distinct terms so far" is two hash
    * aggregations, no sequential scan: each term's FIRST document
    * (`min(doc_id)`) decides the bucket where it enters the
    * vocabulary, bucket-level counts cumsum over a 20-row frame, and
    * everything is integer arithmetic — exact at any scale. The
    * growth curve (and its flattening) is the standard corpus-size
    * diagnostic for when more crawl stops buying new vocabulary. */
  private def tx19(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val toks = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
    // bucket = doc_id·20 div (mx+1) ∈ [0,19]; the max broadcasts as a
    // one-row scalar, so bucketing is a narrow map.
    // Deliberately TWO independent aggregates over the exploded tokens
    // (r19 A/B, Tx19Ab): a shared (term, bucket) first-level aggregate
    // would tokenize once, but its |vocab|×buckets shuffle costs more
    // than the second tokenize pass (warm 0.39-0.42 s two-pass vs
    // 0.50-0.56 s shared vs 0.64-0.75 s shared+cached) — both partial
    // aggregations here collapse map-side to ≤|vocab| rows, so the
    // extra scan is the cheaper half.
    val tb = toks.crossJoin(broadcast(mx))
      .groupBy(expr("(doc_id * 20) div (mx + 1)").as("bucket"))
      .agg(count(lit(1)).as("toks"))
    val vb = toks.groupBy(col("term")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(mx))
      .groupBy(expr("(first_doc * 20) div (mx + 1)").as("bucket"))
      .agg(count(lit(1)).as("vnew"))
    // the window frame is the 20 bucket rows — metadata-scale
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tb.join(vb, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("vnew"), lit(0L)).as("vnew"))
      .select(col("bucket"),
        sum(col("toks")).over(w).as("cum_tokens"),
        sum(col("vnew")).over(w).as("cum_vocab"))
      .orderBy(col("bucket"))
  }

  private val tx19Sql =
    """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tb AS (SELECT (doc_id * 20) // (mx + 1) AS bucket, CAST(count(*) AS BIGINT) AS toks
      |       FROM toks, mx GROUP BY 1),
      |fs AS (SELECT term, min(doc_id) AS first_doc FROM toks GROUP BY 1),
      |vb AS (SELECT (first_doc * 20) // (mx + 1) AS bucket, CAST(count(*) AS BIGINT) AS vnew
      |       FROM fs, mx GROUP BY 1),
      |j AS (SELECT coalesce(tb.bucket, vb.bucket) AS bucket,
      |        coalesce(toks, 0) AS toks, coalesce(vnew, 0) AS vnew
      |      FROM tb FULL JOIN vb ON tb.bucket = vb.bucket)
      |SELECT bucket,
      |  CAST(sum(toks) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
      |  CAST(sum(vnew) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
      |FROM j ORDER BY bucket""".stripMargin

  /** tx20 — READABILITY scoring (Flesch reading-ease), bucketed into a
    * corpus histogram — the grade-level quality signal next to tx02's
    * surface ratios and tx17's LM perplexity. Words are whitespace
    * tokens (the corpus-wide tx01 convention), sentences count
    * `[.!?]+` groups clamped to ≥1 (this corpus has none — the clamp
    * IS the tested path), syllables per word approximate as vowel-group
    * runs clamped to ≥1. The score `206.835 − 1.015·(W/S) − 84.6·(SY/W)`
    * never touches a float: the histogram bucket is
    * `floor(score/10) = floordiv(206835·S·W − 1015·W² − 84600·SY·S,
    * 10000·S·W)` — one integer expression, exact in BIGINT at any
    * scale, with pmod-based floor division because scores go negative
    * and `div` truncation differs from floor there. Shape: one narrow
    * per-doc map, one hash agg. */
  private def tx20(s: SparkSession, d: String): DataFrame = {
    val scored = documents(s, d).select(
      greatest(lit(1L), size(TF.tokens(col("text"))).cast("long")).as("w"),
      greatest(lit(1L),
        size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")).as("st"),
      expr("""aggregate(
               transform(split(lower(text), ' '),
                 t -> greatest(1L, cast(size(regexp_extract_all(t, '[aeiouy]+', 0)) as bigint))),
               cast(0 as bigint), (a, x) -> a + x)""").as("sy"))
    val num = col("w") * col("st") * lit(206835L) -
      col("w") * col("w") * lit(1015L) - col("sy") * col("st") * lit(84600L)
    val den = col("w") * col("st") * lit(10000L)
    scored
      .withColumn("__num", num).withColumn("__den", den)
      // (num − pmod) is exactly divisible; `div` keeps it in BIGINT —
      // a double division would lose exactness past 2^53 (book-length docs)
      .withColumn("bucket", expr("(__num - pmod(__num, __den)) div __den"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_words"),
        sum(col("sy")).as("sum_syllables"))
      .orderBy(col("bucket"))
  }

  private val tx20Sql =
    """WITH scored AS (
      |  SELECT
      |    greatest(1, CAST(len(string_split(text, ' ')) AS BIGINT)) AS w,
      |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS st,
      |    CAST(list_sum(list_transform(string_split(lower(text), ' '),
      |      t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))) AS BIGINT) AS sy
      |  FROM documents),
      |b AS (
      |  SELECT w, st, sy,
      |    (w*st*206835 - w*w*1015 - sy*st*84600) AS num,
      |    (w*st*10000) AS den
      |  FROM scored)
      |SELECT CAST((num - (((num % den) + den) % den)) // den AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS sum_words,
      |  CAST(sum(sy) AS BIGINT) AS sum_syllables
      |FROM b GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** tx21 — LEARNED BPE ([[graft.operators.BpeTrainer]]): train a
    * 6-round byte-pair-encoding merge table FROM the corpus — the
    * Sennrich subword algorithm — and return the merge table itself.
    * The corpus is touched once (explode + one keyed agg → the Zipf-
    * small distinct-word table); each round is ONE keyed pair-count agg
    * over that cached vocabulary plus a TakeOrdered(1) arg-max (the
    * sole driver row — pinned in `BpeTrainerSpec`). The oracle REPLAYS
    * the training: six chained relational rounds (pair counts → arg-max
    * with the same (count DESC, pair ASC) tie-break → left-to-right
    * `replace` merge), so a hash match proves the learned merges are
    * bit-identical to an independent engine's. */
  private def tx21(s: SparkSession, d: String): DataFrame = {
    import graft.operators.BpeTrainer
    val words = documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val merges = BpeTrainer.train(words, rounds = 6)
    // the oracle replays exactly 6 rounds (its t1..t6 CTEs cross-join);
    // a corpus degenerate enough to fully merge earlier would silently
    // diverge (empty oracle vs partial merges) — fail loudly instead,
    // matching tx22's identical contract
    require(merges.size == 6,
      s"corpus fully merged after ${merges.size} rounds — the 6-round oracle cannot replay it")
    import s.implicits._
    merges.map(m => (m.round, m.left, m.right, m.count))
      .toDF("round", "left_sym", "right_sym", "pair_count")
      .orderBy(col("round"))
  }

  /** The BPE training replay shared by tx21Sql and tx22Sql — ONE
    * definition so the two oracles can never fork their training
    * semantics (the double-space delimiter fix had to touch two copies
    * before this was factored): the WITH prefix building the
    * distinct-word table `w`, the spaced state `s0`, and per round N
    * the pair counts `pN`, arg-max merge `tN`, and post-merge state
    * `sN`. */
  private def bpeTrainingCtes(rounds: Int): String = {
    def round(r: Int) =
      s"""p$r AS (
         |  SELECT pr[1] AS a, pr[2] AS b, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM (SELECT unnest(list_zip(l, l[2:])) AS pr, cnt
         |        FROM (SELECT string_split(trim(sym), '  ') AS l, cnt FROM s${r - 1}))
         |  WHERE pr[2] IS NOT NULL
         |  GROUP BY 1, 2),
         |t$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
         |s$r AS (SELECT replace(sym, ' ' || t.a || '  ' || t.b || ' ',
         |                       ' ' || t.a || t.b || ' ') AS sym, cnt
         |        FROM s${r - 1}, t$r t)""".stripMargin
    """WITH w AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |s0 AS (SELECT ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS sym, cnt FROM w),
      |""".stripMargin +
      (1 to rounds).map(round).mkString(",\n")
  }

  /** Six relational training rounds: sN = vocabulary state after round
    * N, pN = pair counts, tN = that round's arg-max merge. */
  private val tx21Sql =
    bpeTrainingCtes(6) +
      "\nSELECT * FROM (" +
      (1 to 6).map(r =>
        s"SELECT $r AS round, a AS left_sym, b AS right_sym, n AS pair_count FROM t$r")
        .mkString(" UNION ALL ") +
      ") ORDER BY round"

  /** tx22 — LEARNED-BPE TOKEN BUDGET: the apply side of tx21's
    * training — learn the 6-round merge table from the corpus, then
    * count each word's post-merge symbols ([[graft.operators
    * .BpeTrainer.tokenCount]], row-local replace chain, no shuffle)
    * and budget per source. This is the pipeline loop a tokenizer
    * trainer exists for: sampling quotas keyed by LEARNED token
    * counts, not whitespace proxies. The oracle replays the training
    * rounds AND the nested-replace application, so the hash pins
    * train→apply end to end across engines. */
  private def tx22(s: SparkSession, d: String): DataFrame = {
    import graft.operators.BpeTrainer
    val docs = documents(s, d)
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val merges = BpeTrainer.train(words, rounds = 6)
    require(merges.size == 6,
      s"corpus fully merged after ${merges.size} rounds — the 6-round oracle cannot replay it")
    docs.select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .select(col("source"),
        BpeTrainer.tokenCount(col("word"), merges).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("learned_tokens"), count(lit(1)).as("n_words"))
      .orderBy(col("source"))
  }

  /** The tx21 training rounds ([[bpeTrainingCtes]] — shared, so the
    * two oracles can't fork) plus a nested-replace application in
    * learn order (innermost = round 1). */
  private val tx22Sql = {
    val applied = (1 to 6).foldLeft("sy")((acc, r) =>
      s"replace($acc, ' ' || m$r.a || '  ' || m$r.b || ' ', ' ' || m$r.a || m$r.b || ' ')")
    bpeTrainingCtes(6) +
      s""",
      |tok AS (
      |  SELECT source, word FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> ''),
      |sym AS (SELECT source,
      |  ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS sy FROM tok),
      |applied AS (
      |  SELECT source, $applied AS sy2
      |  FROM sym, t1 m1, t2 m2, t3 m3, t4 m4, t5 m5, t6 m6)
      |SELECT source,
      |  CAST(sum(len(string_split(trim(sy2), '  '))) AS BIGINT) AS learned_tokens,
      |  CAST(count(*) AS BIGINT) AS n_words
      |FROM applied GROUP BY source ORDER BY source""".stripMargin
  }

  /** dd17 — URL CANONICALIZATION dedup: crawl URLs that differ only in
    * scheme/host case, default port, `www.` prefix, tracking params, or
    * fragments are the same resource — the first dedup pass every crawl
    * pipeline runs, BEFORE any content hashing. Synthetic URLs derive
    * deterministically from doc rows (scheme case %2, host case %3,
    * `:80` %5, utm position %3, fragment %4), so both engines build
    * byte-identical inputs; canonicalization is a fixed regex sequence
    * (strip fragment → strip utm params → lowercase → strip default
    * port → strip www) — a narrow per-row map, no shuffle until the
    * final keep-earliest hash agg on the canonical key.
    *
    * Scale shape (r15 growth probe): structurally linear — no candidate
    * pairs exist to grow. Measured spot medians: 0.245 s at sf0.1 →
    * 0.294 s at TWENTY-fold data (ratio 1.2); quadratic candidate
    * growth would have made 20× run ~4× the 10× wall. The single-pass
    * full-lint ratios on this sub-second query (4.8× at 10×) are
    * first-run plan-compile + cold-cache overhead, not growth. */
  private def dd17(s: SparkSession, d: String): DataFrame = {
    val raw = documents(s, d).select(col("doc_id"), col("source"),
      concat(
        when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("http")),
        lit("://www."),
        when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
        when(col("doc_id") % 3 === 0, lit(".EXAMPLE.COM")).otherwise(lit(".example.com")),
        when(col("doc_id") % 5 === 0, lit(":80")).otherwise(lit("")),
        lit("/p/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 3 === 0,
            concat(lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("?id="), (col("doc_id") % 7).cast("string"),
              lit("&utm_campaign=x")))
          .otherwise(concat(lit("?id="), (col("doc_id") % 7).cast("string"))),
        when(col("doc_id") % 4 === 0, lit("#sec")).otherwise(lit(""))).as("url"))
    val canon = lower(
      regexp_replace(
        regexp_replace(
          regexp_replace(col("url"), "#.*$", ""),
          "utm_[a-z]+=[^&#]*&", ""),
        "&utm_[a-z]+=[^&#]*", ""))
    val stripped = regexp_replace(
      regexp_replace(canon, ":80/", "/"), "://www\\.", "://")
    raw.select(col("doc_id"), stripped.as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dupes"))
      .orderBy(col("canon_url"))
  }

  private val dd17Sql =
    """WITH raw AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) || '://www.' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '.EXAMPLE.COM' ELSE '.example.com' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END) ||
      |    '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
      |          WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x'
      |          ELSE '?id=' || CAST(doc_id % 7 AS VARCHAR) END) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END) AS url
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(
      |        lower(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(url, '#.*$', ''),
      |              'utm_[a-z]+=[^&#]*&', ''),
      |            '&utm_[a-z]+=[^&#]*', '')),
      |        ':80/', '/'),
      |      '://www\.', '://') AS canon_url
      |  FROM raw)
      |SELECT canon_url, min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_dupes
      |FROM canon GROUP BY canon_url
      |ORDER BY canon_url""".stripMargin

  /** sp09 — WEIGHTED sampling without replacement (Efraimidis-Spirakis
    * A-ES, 2006 — public research): each doc draws priority
    * `ln(u)/w` (equivalent to `u^(1/w)`) with weight = n_chars and `u`
    * a deterministic uniform from a fully-specified multiplicative
    * hash, then the global top-100 priorities ARE the sample — one
    * narrow map + a distributed TakeOrdered, no per-partition reservoir
    * state, no driver loop; the identical arithmetic replays in SQL.
    * Longer docs win proportionally more often, the property
    * length-balanced corpus sampling needs. */
  private def sp09(s: SparkSession, d: String): DataFrame = {
    val M = 2147483647L
    val u = (pmod(col("doc_id") * lit(2654435761L), lit(M)).cast("double") +
      lit(0.5)) / lit(M.toDouble)
    documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        (log(u) / col("n_chars").cast("double")).as("pri"))
      .orderBy(col("pri").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("n_chars"),
        (floor(col("pri") * lit(1000000000.0) - lit(0.5)) /
          lit(1000000000.0)).as("priority"))
      .orderBy(col("doc_id"))
  }

  /** sp10 — per-source QUOTA CAP ([[Sampling.quotaSample]]): at most
    * 30 documents per source, picked by the deterministic hash priority
    * — "cap every domain at N pages", the crawl-balance op that keeps
    * one giant domain from dominating a corpus. The oracle replays the
    * exact (bucket, id) ranking; the two-phase bucket-pruned window
    * keeps skewed strata off single tasks at 100 TB. */
  private def sp10(s: SparkSession, d: String): DataFrame =
    Sampling.quotaSample(documents(s, d), "doc_id", "source", 30)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"), sum(col("doc_id")).as("sum_id"))
      .orderBy(col("source"))

  private val sp10Sql = {
    val (a, b, c) = Sampling.MixConsts
    s"""WITH b AS (SELECT doc_id, source,
       |  (($a*((h*h) % 1000000007) + $b*h + $c) % 1000000007) % 10000 AS bucket
       |  FROM (SELECT doc_id, source,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
       |        i -> CAST(ascii(CAST(doc_id AS VARCHAR)[i]) AS BIGINT))),
       |      (acc, ch) -> (acc*31 + ch) % 1000000007) AS h
       |    FROM documents)),
       |r AS (SELECT doc_id, source, row_number() OVER
       |  (PARTITION BY source ORDER BY bucket, doc_id) AS rn FROM b)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |  min(doc_id) AS min_id, max(doc_id) AS max_id,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_id
       |FROM r WHERE rn <= 30 GROUP BY source
       |ORDER BY source""".stripMargin
  }

  private val sp09Sql =
    """WITH pri AS (
      |  SELECT doc_id, n_chars,
      |    ln((CAST((doc_id * 2654435761) % 2147483647 AS DOUBLE) + 0.5) / 2147483647.0)
      |      / CAST(n_chars AS DOUBLE) AS pri
      |  FROM documents),
      |top AS (SELECT * FROM pri ORDER BY pri DESC, doc_id LIMIT 100)
      |SELECT doc_id, n_chars,
      |  floor(pri * 1000000000.0 - 0.5) / 1000000000.0 AS priority
      |FROM top ORDER BY doc_id""".stripMargin

  val defs: Map[String, Q] = Map(
    "dd17_url_dedup" -> (dd17 _),
    "sp10_quota_cap" -> (sp10 _),
    "sp09_weighted_sample" -> (sp09 _),
    "tx18_zipf_slope" -> (tx18 _),
    "tx19_vocab_growth" -> (tx19 _),
    "tx20_readability" -> (tx20 _),
    "tx21_learned_bpe" -> (tx21 _),
    "tx22_learned_token_budget" -> (tx22 _),
    "tx01_token_stats" -> (tx01 _),
    "tx02_quality_scores" -> (tx02 _),
    "tx03_langid" -> (tx03 _),
    "tx04_fingerprint" -> (tx04 _),
    "tx05_term_freq" -> (tx05 _),
    "tx06_bpe_tokens" -> (tx06 _),
    "tx07_bigram_logprob" -> (tx07 _),
    "tx08_tfidf" -> (tx08 _),
    "tx09_repetition" -> (tx09 _),
    "tx10_inverted_index" -> (tx10 _),
    "tx11_pii_redaction" -> (tx11 _),
    "tx12_hashed_bow" -> (tx12 _),
    "tx13_cms_heavy_hitters" -> (tx13 _),
    "dd10_bloom_membership" -> (dd10 _),
    "dd11_semantic_dedup" -> (dd11 _),
    "dd12_content_chunks" -> (dd12 _),
    "dd13_star_clusters" -> (dd13 _),
    "dd14_duplicated_spans" -> (dd14 _),
    "dd15_quality_dedup" -> (dd15 _),
    "dd16_containment" -> (dd16 _),
    "pl01_clean_pipeline" -> (pl01 _),
    "sp01_stratified_sample" -> (sp01 _),
    "sp02_split_assign" -> (sp02 _),
    "sp03_pack_sequences" -> (sp03 _),
    "sp04_token_budget" -> (sp04 _),
    "sp05_temperature_mix" -> (sp05 _),
    "sp06_leakage_safe_split" -> (sp06 _),
    "sp07_pps_sample" -> (sp07 _),
    "sp08_epoch_shuffle" -> (sp08 _),
    "dc01_decontaminate" -> (dc01 _),
    "dd01_exact_dedup" -> (dd01 _),
    "dd02_minhash_lsh" -> (dd02 _),
    "dd03_simhash" -> (dd03 _),
    "dd04_ngram_jaccard" -> (dd04 _),
    "dd05_embedding_exact_dedup" -> (dd05 _),
    "dd06_embedding_cosine_dedup" -> (dd06 _),
    "dd07_dedup_clusters" -> (dd07 _),
    "dd08_winnowing" -> (dd08 _),
    "dd09_segment_dedup" -> (dd09 _),
    "ss01_cosine_topk" -> (ss01 _),
    "ss02_lsh_ann" -> (ss02 _),
    "ss03_ivf_ann" -> (ss03 _),
    "ss04_ann_recall" -> (ss04 _),
    "ss05_knn_join" -> (ss05 _),
    "ss06_mmr_rerank" -> (ss06 _),
    "ss07_ivf_persisted" -> (ss07 _),
    "ss15_filtered_ann" -> (ss15 _),
    "ss08_int8_quantized" -> (ss08 _),
    "ss09_pq_adc" -> (ss09 _),
    "ss10_hybrid_rrf" -> (ss10 _),
    "ss11_ivfpq" -> (ss11 _),
    "ss12_incremental_index" -> (ss12 _),
    "st20_cdc_index_pipeline" -> (st20 _),
    "ss13_radius_join" -> (ss13 _),
    "ss14_hard_negatives" -> (ss14 _),
    "tx14_bm25" -> (tx14 _),
    "tx15_lexical_diversity" -> (tx15 _),
    "tx16_pmi_collocations" -> (tx16 _),
    "tx17_perplexity_buckets" -> (tx17 _),
    "mm01_media_stats" -> (mm01 _),
    "mm02_media_features" -> (mm02 _),
    "mm03_frame_sample" -> (mm03 _),
    "mm04_resize" -> (mm04 _),
    "mm05_perceptual_hash" -> (mm05 _),
    "mm06_crossmodal_knn" -> (mm06 _))

  val oracle: Map[String, String] = Map(
    "dd17_url_dedup" -> dd17Sql,
    "sp10_quota_cap" -> sp10Sql,
    "sp09_weighted_sample" -> sp09Sql,
    "tx18_zipf_slope" -> tx18Sql,
    "tx19_vocab_growth" -> tx19Sql,
    "tx20_readability" -> tx20Sql,
    "tx21_learned_bpe" -> tx21Sql,
    "tx22_learned_token_budget" -> tx22Sql,
    "tx01_token_stats" -> tx01Sql,
    "tx02_quality_scores" -> tx02Sql,
    "tx03_langid" -> tx03Sql,
    "tx04_fingerprint" -> tx04Sql,
    "tx05_term_freq" -> tx05Sql,
    "tx06_bpe_tokens" -> tx06Sql,
    "tx07_bigram_logprob" -> tx07Sql,
    "tx08_tfidf" -> tx08Sql,
    "tx09_repetition" -> tx09Sql,
    "tx10_inverted_index" -> tx10Sql,
    "tx11_pii_redaction" -> tx11Sql,
    "tx12_hashed_bow" -> tx12Sql,
    "tx13_cms_heavy_hitters" -> tx13Sql,
    "dd10_bloom_membership" -> dd10Sql,
    "dd11_semantic_dedup" -> dd11Sql,
    "dd12_content_chunks" -> dd12Sql,
    "dd13_star_clusters" -> dd07Sql,
    "dd14_duplicated_spans" -> dd14Sql,
    "dd15_quality_dedup" -> dd15Sql,
    "dd16_containment" -> dd16Sql,
    "pl01_clean_pipeline" -> pl01Sql,
    "sp01_stratified_sample" -> sp01Sql,
    "sp02_split_assign" -> sp02Sql,
    "sp03_pack_sequences" -> sp03Sql,
    "sp04_token_budget" -> sp04Sql,
    "sp05_temperature_mix" -> sp05Sql,
    "sp06_leakage_safe_split" -> sp06Sql,
    "sp07_pps_sample" -> sp07Sql,
    "sp08_epoch_shuffle" -> sp08Sql,
    "dc01_decontaminate" -> dc01Sql,
    "dd01_exact_dedup" -> dd01Sql,
    "dd02_minhash_lsh" -> dd02Sql,
    "dd03_simhash" -> dd03Sql,
    "dd04_ngram_jaccard" -> dd04Sql,
    "dd05_embedding_exact_dedup" -> dd05Sql,
    "dd06_embedding_cosine_dedup" -> dd06Sql,
    "dd07_dedup_clusters" -> dd07Sql,
    "dd08_winnowing" -> dd08Sql,
    "dd09_segment_dedup" -> dd09Sql,
    "ss01_cosine_topk" -> ss01Sql,
    "ss02_lsh_ann" -> ss02Sql,
    "ss03_ivf_ann" -> ss03Sql,
    "ss07_ivf_persisted" -> ss03Sql,
    "ss15_filtered_ann" -> ss15Sql,
    "ss08_int8_quantized" -> ss08Sql,
    "ss09_pq_adc" -> ss09Sql,
    "ss10_hybrid_rrf" -> ss10Sql,
    "ss11_ivfpq" -> ss11Sql,
    "ss12_incremental_index" -> ss12Sql,
    "st20_cdc_index_pipeline" -> st20Sql,
    "ss13_radius_join" -> ss13Sql,
    "ss14_hard_negatives" -> ss14Sql,
    "tx14_bm25" -> tx14Sql,
    "tx15_lexical_diversity" -> tx15Sql,
    "tx16_pmi_collocations" -> tx16Sql,
    "tx17_perplexity_buckets" -> tx17Sql,
    "ss04_ann_recall" -> ss04Sql,
    "ss05_knn_join" -> ss05Sql,
    "ss06_mmr_rerank" -> ss06Sql,
    "mm01_media_stats" -> mm01Sql,
    "mm02_media_features" -> mm02Sql,
    "mm03_frame_sample" -> mm03Sql,
    "mm04_resize" -> mm04Sql,
    "mm05_perceptual_hash" -> mm05Sql,
    "mm06_crossmodal_knn" -> mm06Sql)
}
