package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.util.Tables

/** Text-analysis queries over `documents` (training-data pipeline extension):
  * token counting, language ID, quality scoring, per-doc stats.
  * All are single-pass scans + one hash aggregation — linear at any scale,
  * no joins, map-side combine applies.
  */
object TextQueries {

  /** t27 target token shares (bp): 10% each for src0-3, rest even. */
  private val MixTargets: Map[String, Int] =
    (0 to 3).map(i => s"src$i" -> 1000).toMap ++
      (4 to 19).map(i => s"src$i" -> 375).toMap

  /** t37's retrain-trigger threshold: ~10x the measured in-distribution
    * doc-sampled baseline at sf0.01..sf1 and far below the case-shift
    * statistic — see DsirSpec's planted-shift coverage. (Declared above
    * `all`: the oracle string interpolates it EAGERLY at object init.)
    */
  private val DriftThreshold: Double = 20000.0

  val all: Seq[Q] = Seq(
    // Token statistics per source (whitespace + BPE-ish regex counts).
    Q("t01_token_stats",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(TextFns.tokenCount(col("text"))).as("sum_tokens"),
            sum(TextFns.bpeTokenCount(col("text"))).as("sum_bpe_tokens"),
            sum(length(col("text")).cast("long")).as("sum_chars"))
      },
      Some(s"""SELECT source, COUNT(*) AS n_docs,
              |  CAST(SUM(${TextFns.tokenCountSql("text")}) AS BIGINT) AS sum_tokens,
              |  CAST(SUM(${TextFns.bpeTokenCountSql("text")}) AS BIGINT) AS sum_bpe_tokens,
              |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
              |FROM documents GROUP BY source""".stripMargin)),

    // Heuristic language ID cross-tabulated against the labeled lang column.
    Q("t02_lang_id",
      (s, dir) => {
        val t = Tables(s, dir)
        // langId's per-doc char-class scoring is expensive stage-1 work —
        // spread an underpartitioned local scan (no-op at scale)
        graft.util.Spread(t.documents)
          .groupBy(col("lang"), TextFns.langId(col("text")).as("lang_pred"))
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""SELECT lang, ${TextFns.langIdSql("text")} AS lang_pred, COUNT(*) AS n
              |FROM documents GROUP BY 1, 2""".stripMargin)),

    // Quality-score histogram (deciles).
    Q("t03_quality_histogram",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .groupBy(floor(TextFns.qualityScore(col("text")) * 10).cast("long").as("decile"))
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""SELECT CAST(floor((${TextFns.qualityScoreSql("text")}) * 10) AS BIGINT) AS decile,
              |  COUNT(*) AS n
              |FROM documents GROUP BY 1""".stripMargin)),

    // Per-document stats: the full text-metrics row (500 rows at sf0.01).
    Q("t04_doc_stats",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents.select(
          col("doc_id"),
          TextFns.tokenCount(col("text")).as("n_tokens"),
          TextFns.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          length(col("text")).cast("long").as("n_chars_measured"),
          TextFns.langId(col("text")).as("lang_pred"),
          TextFns.fingerprint(col("text")).as("fp"),
          TextFns.contentHash(col("text")).as("content_hash"))
      },
      Some(s"""SELECT doc_id,
              |  ${TextFns.tokenCountSql("text")} AS n_tokens,
              |  ${TextFns.bpeTokenCountSql("text")} AS n_bpe_tokens,
              |  CAST(length(text) AS BIGINT) AS n_chars_measured,
              |  ${TextFns.langIdSql("text")} AS lang_pred,
              |  ${TextFns.fingerprintSql("text")} AS fp,
              |  ${TextFns.contentHashSql("text")} AS content_hash
              |FROM documents""".stripMargin)),

    // Order-sensitive rolling-hash fingerprint. Portable: the per-token hash
    // is the md5-nibble 32-bit value and the fold is exact BIGINT math, so
    // DuckDB reproduces every hash bit-for-bit (list_reduce mirror).
    Q("t06_rolling_hash",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents.select(col("doc_id"),
          TextFns.rollingHash(col("text")).as("rhash"))
      },
      Some(s"""SELECT doc_id, ${TextFns.rollingHashSql("text")} AS rhash
              |FROM documents""".stripMargin)),

    // Training-data scrubbing: URL/email redaction (content hash proves the
    // rewrite is identical cross-engine even when nothing matches).
    Q("t07_redaction",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents.select(
          col("doc_id"),
          TextFns.redactionCount(col("text")).as("n_redacted"),
          md5(TextFns.redact(col("text"))).as("redacted_hash"))
      },
      Some(s"""SELECT doc_id,
              |  ${TextFns.redactionCountSql("text")} AS n_redacted,
              |  md5(${TextFns.redactSql("text")}) AS redacted_hash
              |FROM documents""".stripMargin)),

    // Quality gate: keep documents above the corpus median quality.
    // The 5-regex score is computed ONCE into a cached (source, q) frame
    // (it dominated this query when evaluated twice), and the median is
    // graft.operators.Quantiles.exactQuantile — a distributed sort+rank,
    // not a value-buffering percentile aggregate, so the gate survives
    // 100 TB. The threshold value is bit-identical to quantile_cont.
    Q("t08_quality_gate",
      (s, dir) => {
        val t = Tables(s, dir)
        val docsQ = t.documents
          .select(col("source"), TextFns.qualityScore(col("text")).as("q"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val thr = graft.operators.Quantiles.exactQuantile(docsQ, "q", 0.5)
        docsQ.filter(col("q") > thr)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"))
      },
      Some(s"""WITH q AS (SELECT source, (${TextFns.qualityScoreSql("text")}) AS q FROM documents),
              |thr AS (SELECT quantile_cont(q, 0.5) AS thr FROM q)
              |SELECT source, COUNT(*) AS n_kept
              |FROM q CROSS JOIN thr WHERE q.q > thr.thr
              |GROUP BY source""".stripMargin)),

    // TF-IDF: top-3 terms per document (ranked on the rounded score so
    // ordering is engine-portable even at ln() ulp differences).
    Q("t09_tfidf_top_terms",
      (s, dir) => graft.operators.TfIdf.topTerms(
        Tables(s, dir).documents, "doc_id", "text", k = 3),
      Some(graft.operators.TfIdf.topTermsSql("documents", "doc_id", "text", 3))),

    // Deterministic hash-based train/valid/test split (never rand()).
    Q("t10_train_test_split",
      (s, dir) => graft.operators.Sampling.split(
          Tables(s, dir).documents, "doc_id", 0.8, 0.1)
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars")),
      Some(s"""SELECT ${graft.operators.Sampling.splitCaseSql("doc_id", 0.8, 0.1)} AS split,
              |  source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
              |FROM documents GROUP BY 1, 2""".stripMargin)),

    // Stratified cap: at most 5 docs per source, chosen by hash order.
    Q("t11_stratified_cap",
      (s, dir) => graft.operators.Sampling.stratifiedCap(
          Tables(s, dir).documents, "source", "doc_id", cap = 5)
        .select(col("doc_id"), col("source")),
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
             |  FROM documents) WHERE rn <= 5""".stripMargin)),

    // Benchmark decontamination: flag training docs sharing >= 50% of their
    // trigram shingles with the "benchmark" slice (doc_id < 50); the eval
    // shingle set broadcasts, the corpus never shuffles beyond per-doc counts.
    Q("t13_decontaminate",
      (s, dir) => graft.operators.Decontaminate.overlapFlags(
        Tables(s, dir).documents.filter(col("doc_id") >= 50),
        Tables(s, dir).documents.filter(col("doc_id") < 50),
        "doc_id", "text", n = 3, frac = 0.5),
      Some(graft.operators.Decontaminate.overlapFlagsSql(
        "documents", "doc_id", "text", n = 3, frac = 0.5, "doc_id < 50"))),

    // Deterministic weighted sampling (temperature-weighting a training
    // mix): keep P(doc) = 1.0 for English, 0.3 otherwise, decided by the
    // doc's own hash — never rand(), so both engines select the same rows.
    Q("t14_weighted_sample",
      (s, dir) => graft.operators.Sampling.weightedSample(
          Tables(s, dir).documents, "doc_id",
          when(col("lang") === "en", 1.0).otherwise(0.3))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept")),
      Some(s"""SELECT lang, COUNT(*) AS n_kept FROM documents
              |WHERE ${graft.operators.Sampling.weightedSamplePredSql("doc_id",
                "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.3 END")}
              |GROUP BY lang""".stripMargin)),

    // Token-budget packing: consecutive docs per source into <=2000-token
    // batches (exclusive prefix sum // budget).
    Q("t12_token_packing",
      (s, dir) => {
        val docs = Tables(s, dir).documents
          .withColumn("n_tokens", TextFns.tokenCount(col("text")))
        graft.operators.Sampling.packByTokenBudget(
            docs, "source", "doc_id", "n_tokens", budget = 2000L)
          .groupBy(col("source"), col("batch_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("batch_tokens"))
      },
      Some(s"""WITH docs AS (
              |  SELECT doc_id, source, ${TextFns.tokenCountSql("text")} AS n_tokens
              |  FROM documents),
              |packed AS (
              |  SELECT source, doc_id, n_tokens,
              |    CAST(floor((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              |      ROWS UNBOUNDED PRECEDING) - n_tokens) / 2000) AS BIGINT) AS batch_id
              |  FROM docs)
              |SELECT source, batch_id, COUNT(*) AS n_docs,
              |  CAST(SUM(n_tokens) AS BIGINT) AS batch_tokens
              |FROM packed GROUP BY 1, 2""".stripMargin)),

    // F2-analog on documents: the reference's totals/summary row filter
    // (scraper/div_link_handler.py:238-245) as a relational predicate.
    Q("t05_totals_filter",
      (s, dir) => {
        val t = Tables(s, dir)
        val txt = lower(col("text"))
        t.documents
          .filter(!(txt.contains("total") || txt.contains("summary")))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"))
      },
      Some("""SELECT source, COUNT(*) AS n_kept FROM documents
             |WHERE NOT (lower(text) LIKE '%total%' OR lower(text) LIKE '%summary%')
             |GROUP BY source""".stripMargin)),

    // Within-document repetition metrics (Gopher-style quality signals):
    // duplicate-token fraction, duplicate-trigram fraction, and the share
    // of the single most frequent token. All integer-count ratios (one
    // final division each) so the doubles hash-match DuckDB. The token and
    // shingle arrays are staged in a projection — computed once per doc,
    // referenced by several metrics (Catalyst keeps non-cheap
    // multiply-referenced aliases staged).
    Q("t15_repetition",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .select(col("doc_id"),
            TextFns.tokens(col("text")).as("toks"),
            TextFns.shingles(col("text"), 3).as("tri3"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            TextFns.dupFrac(col("toks")).as("dup_token_frac"),
            TextFns.dupFrac(col("tri3")).as("dup_trigram_frac"),
            TextFns.topFrac(col("toks")).as("top_token_frac"))
      },
      Some(s"""SELECT doc_id,
              |  CAST(len(${TextFns.tokensSql("text")}) AS BIGINT) AS n_tokens,
              |  ${TextFns.dupFracSql(TextFns.tokensSql("text"))} AS dup_token_frac,
              |  ${TextFns.dupFracSql(TextFns.shinglesSql("text", 3))} AS dup_trigram_frac,
              |  ${TextFns.topFracSql(TextFns.tokensSql("text"))} AS top_token_frac
              |FROM documents""".stripMargin)),

    // Gopher-style composite quality gate: every rule is an EXACT integer
    // comparison (ratio thresholds cross-multiplied), so both engines make
    // bit-identical keep/drop decisions — no double thresholds anywhere.
    // Single narrow pass; the token array is staged once per doc.
    Q("t16_quality_rules",
      (s, dir) => {
        val t = Tables(s, dir)
        t.documents
          .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tok"),
            TextFns.sumTokenLen(col("toks")).as("sum_len"),
            regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("long").as("n_punct"),
            TextFns.stopwordHits(col("toks"),
              TextFns.LangStopwords.flatMap(_._2)).as("n_stop"),
            size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
            TextFns.topTokenCount(col("toks")).as("max_cnt"))
          .select(col("doc_id"), col("n_tok").as("n_tokens"),
            (col("n_tok") < 30).cast("long").as("f_short"),
            (col("sum_len") < col("n_tok") * 2 || col("sum_len") > col("n_tok") * 8)
              .cast("long").as("f_meanlen"),
            (col("n_punct") * 10 > col("n_tok")).cast("long").as("f_symbol"),
            (col("n_stop") < 2).cast("long").as("f_stop"),
            ((col("n_tok") - col("n_distinct")) * 10 > col("n_tok") * 3)
              .cast("long").as("f_dup"),
            (col("max_cnt") * 5 > col("n_tok")).cast("long").as("f_top"))
          .withColumn("keep",
            (col("f_short") + col("f_meanlen") + col("f_symbol") +
              col("f_stop") + col("f_dup") + col("f_top") === 0).cast("long"))
      },
      Some {
        val toks = TextFns.tokensSql("text")
        s"""WITH counts AS (
           |  SELECT doc_id,
           |    CAST(len($toks) AS BIGINT) AS n_tok,
           |    ${TextFns.sumTokenLenSql(toks)} AS sum_len,
           |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
           |    CAST(${TextFns.stopwordHitsSql(toks, TextFns.LangStopwords.flatMap(_._2))} AS BIGINT) AS n_stop,
           |    CAST(len(list_distinct($toks)) AS BIGINT) AS n_distinct,
           |    ${TextFns.topTokenCountSql(toks)} AS max_cnt
           |  FROM documents),
           |flags AS (
           |  SELECT doc_id, n_tok AS n_tokens,
           |    CAST(n_tok < 30 AS BIGINT) AS f_short,
           |    CAST(sum_len < n_tok * 2 OR sum_len > n_tok * 8 AS BIGINT) AS f_meanlen,
           |    CAST(n_punct * 10 > n_tok AS BIGINT) AS f_symbol,
           |    CAST(n_stop < 2 AS BIGINT) AS f_stop,
           |    CAST((n_tok - n_distinct) * 10 > n_tok * 3 AS BIGINT) AS f_dup,
           |    CAST(max_cnt * 5 > n_tok AS BIGINT) AS f_top
           |  FROM counts)
           |SELECT *, CAST(f_short + f_meanlen + f_symbol + f_stop + f_dup + f_top = 0 AS BIGINT) AS keep
           |FROM flags""".stripMargin
      }),

    // URL canonicalization + per-domain rollup (web-crawl shape). The test
    // tables carry no URL column, so each doc contributes two DERIVED messy
    // variants of the same logical URL (same deterministic construction in
    // both engines): scheme/host case noise, an explicit default port,
    // utm_* tracking params, a fragment, and shuffled param order. After
    // `UrlFns.normalizeUrl` the two variants collapse to ONE canonical URL
    // (n_canonical = n_raw / 2 per domain) — the URL-level dedup signal a
    // crawl pipeline caps domains by. Narrow projection + one hash agg.
    Q("t17_url_normalize",
      (s, dir) => {
        val t = Tables(s, dir)
        import graft.functions.UrlFns
        val messy1 = concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".COM:443/docs/"), col("doc_id").cast("string"),
          lit("?utm_source=feed&ref="), col("lang"),
          lit("&utm_campaign=c"), (col("doc_id") % 3).cast("string"), lit("#sec"))
        val messy2 = concat(lit("https://www."), lower(col("source")),
          lit(".com/docs/"), col("doc_id").cast("string"),
          lit("?ref="), col("lang"))
        t.documents
          .select(col("doc_id"), explode(array(messy1, messy2)).as("url"))
          .select(col("url"), UrlFns.normalizeUrl(col("url")).as("canon"))
          .groupBy(UrlFns.domain(col("canon")).as("domain"))
          .agg(count(lit(1)).as("n_urls"),
            countDistinct(col("url")).as("n_raw"),
            countDistinct(col("canon")).as("n_canonical"))
      },
      Some {
        import graft.functions.UrlFns
        val messy1 = "'HTTPS://WWW.' || upper(source) || '.COM:443/docs/' || " +
          "CAST(doc_id AS VARCHAR) || '?utm_source=feed&ref=' || lang || " +
          "'&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR) || '#sec'"
        val messy2 = "'https://www.' || lower(source) || '.com/docs/' || " +
          "CAST(doc_id AS VARCHAR) || '?ref=' || lang"
        s"""WITH urls AS (
           |  SELECT unnest([$messy1, $messy2]) AS url FROM documents),
           |norm AS (SELECT url, ${UrlFns.normalizeUrlSql("url")} AS canon FROM urls)
           |SELECT ${UrlFns.domainSql("canon")} AS domain, COUNT(*) AS n_urls,
           |  COUNT(DISTINCT url) AS n_raw, COUNT(DISTINCT canon) AS n_canonical
           |FROM norm GROUP BY 1""".stripMargin
      }),

    // Heavy hitters via a SpaceSaving typed aggregator: the shuffle carries
    // at most `capacity` entries per partition instead of every distinct
    // token. Declared in the EXACT regime (capacity 64 > the corpus
    // vocabulary, so every err is provably 0 and the oracle's plain GROUP
    // BY count hash-matches — including the zero err column); the
    // approximate regime's guarantees are property-specked.
    Q("t18_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val terms = Tables(s, dir).documents
          .select(explode(TextFns.tokens(col("text"))).as("term"))
          .as[String]
        terms
          .select(new graft.operators.SpaceSavingSketch(64, 10).toColumn).toDF("hh")
          .select(explode(col("hh")).as("e"))
          .select(col("e._1").as("term"), col("e._2").as("cnt"),
            col("e._3").as("err"), col("e._4").as("rank"))
      },
      Some(s"""WITH t AS (
              |  SELECT unnest(${TextFns.tokensSql("text")}) AS term FROM documents),
              |c AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY 1),
              |r AS (SELECT term, cnt,
              |        ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank
              |      FROM c)
              |SELECT term, cnt, CAST(0 AS BIGINT) AS err, CAST(rank AS BIGINT) AS rank
              |FROM r WHERE rank <= 10""".stripMargin)),

    // Corpus-frequency bigram scoring — the cheap stand-in for
    // LM-perplexity quality filtering: corpus-rare n-grams mark unusual
    // text, all-common n-grams mark templated boilerplate. All-integer
    // aggregation, divisions last → engine-exact.
    Q("t19_bigram_lm_score",
      (s, dir) => graft.operators.CorpusStats.bigramLmScore(
        Tables(s, dir).documents, "doc_id", "text", minCount = 10L),
      Some(graft.operators.CorpusStats.bigramLmScoreSql(
        "documents", "doc_id", "text", minCount = 10L))),

    // Cross-source vocabulary overlap matrix: exact shared-vocab counts +
    // vocabulary Jaccard per source pair (the corpus-mixing diagnostic;
    // d11 is the doc-level companion).
    Q("t20_source_vocab_overlap",
      (s, dir) => graft.operators.CorpusStats.sourceVocabOverlap(
        Tables(s, dir).documents, "source", "text"),
      Some(graft.operators.CorpusStats.sourceVocabOverlapSql(
        "documents", "source", "text"))),

    // CountMin sketch (operators/CountMin): fixed 4×256-cell mergeable
    // frequency summary over the corpus token stream, probed with the 20
    // most frequent tokens. Output carries the exact count alongside the
    // estimate, making the never-undercounts contract visible in the
    // result; the oracle replays the identical md5-bucket arithmetic, so
    // the sketch is hash-checked, not tolerance-checked. t18's SpaceSaving
    // finds WHO is frequent; this answers HOW frequent for any later probe
    // from a corpus-size-independent summary.
    Q("t21_countmin_estimates",
      (s, dir) => {
        val depth = 4; val width = 256
        val toks = Tables(s, dir).documents
          .select(explode(TextFns.tokens(col("text"))).as("tok"))
        val sk = graft.operators.CountMin.sketch(toks, "tok", depth, width)
        val probes = toks.groupBy(col("tok"))
          .agg(count(lit(1)).as("true_n"))
          .orderBy(desc("true_n"), asc("tok")).limit(20)
        graft.operators.CountMin.estimate(sk, probes, "tok", depth, width)
          .select(col("tok"), col("true_n"), col("cms_est"))
      },
      Some(s"""WITH toks AS (
              |  SELECT unnest(${TextFns.tokensSql("text")}) AS tok FROM documents),
              |sk AS (${graft.operators.CountMin.sketchSql("toks", 4, 256)}),
              |probes AS (
              |  SELECT tok, COUNT(*) AS true_n FROM toks GROUP BY 1
              |  ORDER BY true_n DESC, tok ASC LIMIT 20),
              |est AS (${graft.operators.CountMin.estimateSql("probes", "sk", 4, 256)})
              |SELECT p.tok, p.true_n, e.cms_est
              |FROM probes p JOIN est e ON p.tok = e.tok""".stripMargin)),

    // Inverted index build: term -> sorted posting list of doc_ids, kept
    // for mid-frequency terms (5 <= df <= 80% of the corpus — stopwords
    // and hapaxes are index noise). One explode + one aggregation; posting
    // lists are array_sort(collect_set(...)) so the content is
    // deterministic, emitted as a comma-joined scalar (the driver's pandas
    // compare cannot sort array cells — the q17 convention). At 100 TB the
    // posting list of a stopword would be corpus-sized — the df upper bound
    // is what keeps per-group state bounded, stated here as part of the
    // operator contract, not an optimization; it DERIVES from the corpus
    // count (a fixed 400 is 80% of sf0.01 but silently empties the index
    // at sf1).
    Q("t23_inverted_index",
      (s, dir) => {
        val t = Tables(s, dir)
        val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
        t.documents
          .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
          .groupBy(col("term"))
          .agg(countDistinct(col("doc_id")).as("df"),
            expr("array_join(cast(array_sort(collect_set(doc_id)) as array<string>), ',')")
              .as("postings"))
          .crossJoin(broadcast(nDocs))
          .filter(col("df") >= 5 && col("df") <= expr("(n_docs * 8) DIV 10"))
          .drop("n_docs")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS term
              |  FROM documents)
              |SELECT term, COUNT(DISTINCT doc_id) AS df,
              |  array_to_string(list(DISTINCT doc_id ORDER BY doc_id), ',') AS postings
              |FROM t GROUP BY 1
              |HAVING COUNT(DISTINCT doc_id) BETWEEN 5 AND
              |  (SELECT COUNT(*) * 8 // 10 FROM documents)""".stripMargin)),

    // RAG-prep sliding chunks (Chunker.slidingChunks): 32-token windows
    // every 24 tokens — overlapping retrieval-context chunks, tail windows
    // clamped so every token is covered. d09's disjoint chunks feed DEDUP;
    // these overlapping ones feed a retrieval INDEX (e01-e12 embed them).
    Q("t22_sliding_chunks",
      (s, dir) => graft.operators.Chunker.slidingChunks(
        Tables(s, dir).documents, "doc_id", "text", width = 32, stride = 24),
      Some(graft.operators.Chunker.slidingChunksSql(
        "documents", "doc_id", "text", 32, 24))),

    // The whole prep chain composed end to end (operators/PrepPipeline):
    // token gate → LSH near-dup drop → benchmark decontamination →
    // deterministic split, reported as the per-stage yield funnel. Every
    // doc gets ONE terminal label in a single DAG — stage counts are one
    // groupBy, never a count() per stage re-running the dedup upstream.
    Q("t24_prep_pipeline_funnel",
      (s, dir) => graft.operators.PrepPipeline.funnel(
        Tables(s, dir).documents, "doc_id", "text",
        evalBelow = 50L, minTokens = 30, n = 3, numHashes = 12,
        rowsPerBand = 3, threshold = 0.8, contamFrac = 0.5,
        trainFrac = 0.8, validFrac = 0.1),
      Some(graft.operators.PrepPipeline.funnelSql(
        "documents", "doc_id", "text",
        evalBelow = 50L, minTokens = 30, n = 3, numHashes = 12,
        rowsPerBand = 3, threshold = 0.8, contamFrac = 0.5,
        trainFrac = 0.8, validFrac = 0.1))),

    // Boilerplate remover (Chunker.stripSharedChunks): d09 measures chunk-
    // level cross-doc duplication; this REMOVES it — chunks shared by more
    // than maxDocs distinct documents are stripped and each document is
    // re-joined from its surviving chunks in order. Same two chunk-keyed
    // shuffles as d09 plus the doc rollup.
    Q("t25_strip_boilerplate",
      (s, dir) => graft.operators.Chunker.stripSharedChunks(
        Tables(s, dir).documents, "doc_id", "text", width = 20, maxDocs = 1),
      Some(graft.operators.Chunker.stripSharedChunksSql(
        "documents", "doc_id", "text", width = 20, maxDocs = 1))),

    // BPE merge training (operators/Bpe): the tokenizer-construction pass
    // — a distributed word-frequency count, then all 10 merges trained in
    // one task over that table, ties broken on (left, right) in UTF-8 byte
    // order so the merge table is a pure function of the corpus. The oracle replays all
    // 10 steps (pair counts → top pick → greedy left-to-right rewrite as
    // gaps-and-islands) and must land on the identical table.
    Q("t26_bpe_merges",
      (s, dir) => graft.operators.Bpe.trainMerges(
        Tables(s, dir).documents, "text", steps = 10),
      Some(graft.operators.Bpe.trainMergesSql("documents", "text", steps = 10))),

    // Source-mixture resampling (Sampling.sourceMixture): rebalance the
    // 20-source corpus toward a skewed target token share — 10% each for
    // src0-src3, the rest split evenly. Deterministic hash-fractional
    // replication, all-integer arithmetic; the per-source totals ride a
    // broadcast, the corpus itself never shuffles.
    Q("t27_source_mixture",
      (s, dir) => graft.operators.Sampling.sourceMixture(
        Tables(s, dir).documents, "doc_id", "text", "source", MixTargets),
      Some(graft.operators.Sampling.sourceMixtureSql(
        "documents", "doc_id", "text", "source", MixTargets))),

    // Contamination provenance (Decontaminate.provenance): t13 flags WHICH
    // training docs overlap the benchmark; this names the benchmark doc
    // each one most overlaps (max shared trigrams, min eval id on ties) —
    // the audit-trail answer. Same broadcast shape as t13.
    Q("t28_contamination_provenance",
      (s, dir) => graft.operators.Decontaminate.provenance(
        Tables(s, dir).documents.filter(col("doc_id") >= 50),
        Tables(s, dir).documents.filter(col("doc_id") < 50),
        "doc_id", "text", n = 3, minShared = 5L),
      Some(graft.operators.Decontaminate.provenanceSql(
        "documents", "doc_id", "text", n = 3, minShared = 5L, "doc_id < 50"))),

    // Bloom-filter decontamination (Bloom.probeFlags): t13's gate with the
    // eval shingle set compressed to a 32 KB bit array (m=2^18, k=4) — the
    // probe is a fully NARROW projection (zero joins; the only exchange is
    // the final per-doc agg), no false negatives, deterministic false
    // positives both engines replay exactly. The 100 TB shape: a fixed-size
    // filter rides inside the scan instead of a broadcast semi-join.
    Q("t29_bloom_decontaminate",
      (s, dir) => {
        val t = Tables(s, dir)
        val bits = graft.operators.Bloom.build(
          t.documents.filter(col("doc_id") < 50), "text",
          n = 3, k = 4, m = 1 << 18)
        graft.operators.Bloom.probeFlags(
          t.documents.filter(col("doc_id") >= 50), "doc_id", "text",
          n = 3, k = 4, m = 1 << 18, bits, frac = 0.5)
      },
      Some(graft.operators.Bloom.probeFlagsSql(
        "documents", "doc_id", "text", n = 3, k = 4, m = 1 << 18,
        frac = 0.5, "doc_id < 50"))),

    // Contrastive negative sampling (Sampling.negativePairs): 4 hash-chosen
    // negatives per document with the negative's source/lang fetched by one
    // equi-join — the deterministic pairing pass for retrieval/embedding
    // training sets. Never rand(): both engines replay the same pairs.
    Q("t30_negative_pairs",
      (s, dir) => graft.operators.Sampling.negativePairs(
        Tables(s, dir).documents, "doc_id", Seq("source", "lang"), numNegs = 4),
      Some(graft.operators.Sampling.negativePairsSql(
        "documents", "doc_id", Seq("source", "lang"), numNegs = 4))),

    // Tokenizer APPLY: per-document BPE token counts under the corpus's
    // own t26-trained merge table (Bpe.encodeCounts). Each word TYPE is
    // segmented once, by t26's training task; per-occurrence cost is a
    // vocabulary hash join — the token-budget accounting pass (packing,
    // pricing, context-window fit) of an LLM pipeline, engine-exact against
    // a full DuckDB replay of the training chain plus the encode join.
    Q("t31_bpe_encode",
      (s, dir) => graft.operators.Bpe.encodeCounts(
        Tables(s, dir).documents, "doc_id", "text", steps = 10),
      Some(graft.operators.Bpe.encodeCountsSql(
        "documents", "doc_id", "text", steps = 10))),

    // BM25 ranked retrieval — the keyword-relevance scorer for quality
    // retrieval / soft decontamination. Exact-integer inputs, pinned op
    // order, fixed-order per-doc term fold, TakeOrdered top-k (per-
    // partition heap, never a global sort).
    Q("t32_bm25_search",
      (s, dir) => graft.operators.Bm25.search(
        Tables(s, dir).documents, "doc_id", "text",
        queryTerms = Seq("spark", "merge", "vector"), topK = 25),
      Some(graft.operators.Bm25.searchSql(
        "documents", "doc_id", "text",
        queryTerms = Seq("spark", "merge", "vector"), topK = 25))),

    // Hybrid retrieval: reciprocal-rank fusion of the t32 BM25 lexical
    // list and an e01-style cosine list against one query vector
    // (doc_id ≡ vec_id in the corpus). Rank-only fusion — no score
    // calibration across retrievers; fusion touches only the two top-n
    // lists, so the cost lives in the retrievers (each with its own
    // scale path: term-filtered explode / IVF-PQ).
    Q("t33_hybrid_rrf_search",
      (s, dir) => {
        val t = Tables(s, dir)
        graft.operators.Hybrid.rrfSearch(
          docs = t.documents, embeddings = t.embeddings,
          docIdCol = "doc_id", textCol = "text",
          vecIdCol = "vec_id", vecCol = "embedding", dim = 64,
          queryTerms = Seq("spark", "merge", "vector"),
          queryVecId = 0L, n = 50, topK = 20)
      },
      Some(graft.operators.Hybrid.rrfSearchSql(
        "documents", "embeddings", "doc_id", "text", "vec_id", "embedding",
        dim = 64, queryTerms = Seq("spark", "merge", "vector"),
        queryVecId = 0L, n = 50, topK = 20))),

    // Zipf-fit vocabulary diagnostic: per-source OLS slope/intercept of
    // ln(freq) on ln(rank) over each source's top-200 terms — natural
    // language tracks slope ≈ −1; boilerplate runs steeper, spam flatter.
    // Exact-decimal normal equations (the q44 split-sum discipline applied
    // to 6dp-quantized logs); the corpus is touched once.
    Q("t34_zipf_fit",
      (s, dir) => graft.operators.Zipf.fit(
        Tables(s, dir).documents, "text", "source", topR = 200),
      Some(graft.operators.Zipf.fitSql("documents", "text", "source", topR = 200))),

    // DSIR importance selection: per-doc log-likelihood ratio of a target
    // hashed-unigram model (src0's docs) over the raw corpus model —
    // classifier-free domain tilting. One corpus pass into (doc, bucket)
    // counts; both models are bucket-bounded aggregates; the ≤512-row
    // weight table broadcasts; exact 6dp-decimal dot product; TakeOrdered.
    Q("t35_dsir_importance",
      (s, dir) => graft.operators.Dsir.topByImportance(
        Tables(s, dir).documents, "doc_id", "text", "source",
        targetSource = "src0", buckets = 512, topK = 100),
      Some(graft.operators.Dsir.topByImportanceSql(
        "documents", "doc_id", "text", "source",
        targetSource = "src0", buckets = 512, topK = 100))),

    // The faithful DSIR selection rule: Gumbel-top-k resample ∝ exp(score)
    // (Efraimidis–Spirakis without replacement), with the Gumbel noise
    // derived deterministically from the doc id's portable hash so the
    // sample is engine-exact. Same single-pass scoring as t35; the
    // perturbation is one scalar expression per scored doc.
    Q("t36_dsir_gumbel_resample",
      (s, dir) => graft.operators.Dsir.gumbelResample(
        Tables(s, dir).documents, "doc_id", "text", "source",
        targetSource = "src0", buckets = 512, topK = 100),
      Some(graft.operators.Dsir.gumbelResampleSql(
        "documents", "doc_id", "text", "source",
        targetSource = "src0", buckets = 512, topK = 100))),

    // DSIR weight-DRIFT monitor (t35's retrain trigger — the e19 analog
    // for the trained buckets): exact-decimal chi-square of an incoming
    // batch's hashed-unigram bucket distribution against the trained
    // add-1-smoothed raw model. Two monitored batches in one result: an
    // in-distribution doc slice (must stay quiet) and the same slice
    // case-shifted (token identities move buckets — the new-domain
    // signature; must fire). Threshold sits an order of magnitude above
    // the measured doc-sampled in-distribution baseline — doc sampling
    // overdisperses vs the χ²(511) table, so the baseline is measured,
    // not looked up.
    Q("t37_dsir_drift_monitor",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val (dist, tot) = graft.operators.Dsir.trainDist(docs, "text", 512)
        val batch = docs.filter(col("doc_id") % 7 === 3)
        val shifted = batch.select(upper(col("text")).as("text"))
        graft.operators.Dsir
          .driftStat(batch, "text", dist, tot, 512, DriftThreshold, "in_dist")
          .unionAll(graft.operators.Dsir.driftStat(
            shifted, "text", dist, tot, 512, DriftThreshold, "shifted_upper"))
      },
      Some {
        val corpus = "SELECT text FROM documents"
        val batch = "SELECT text FROM documents WHERE doc_id % 7 = 3"
        val shifted =
          "SELECT upper(text) AS text FROM documents WHERE doc_id % 7 = 3"
        graft.operators.Dsir.driftStatSql(batch, corpus, "text", 512,
          DriftThreshold, "in_dist") +
          "\nUNION ALL\n" +
          graft.operators.Dsir.driftStatSql(shifted, corpus, "text", 512,
            DriftThreshold, "shifted_upper")
      }),

    // Drift-FIRED retrain (t38) — t37 gives the signal, this row ACTS on
    // it, closing the monitoring loop the same way e21 closes the ANN
    // one: the planted domain-shifted batch (upper(text): token
    // identities move buckets) trips the drift gate — verified with a
    // 1-row driver pull, the retrain genuinely gated on it — then the
    // DSIR weights are RETRAINED over corpus ∪ the admitted shifted
    // batch and the batch re-scored under both models. The declared
    // result is the per-doc (score_pre, score_post) shift: post-retrain
    // the raw distribution knows the shifted domain (its buckets'
    // raw-counts rise while target counts don't), so the importance of
    // the shifted docs drops — the model stops mistaking novelty for
    // importance. Oracle: both training chains replayed relationally
    // with the same 6dp-decimal quantization as t35/m12.
    // Cost: two ≤buckets-row training pulls + two pure-codegen scoring
    // passes over the batch — corpus passes are training-time, the
    // scored relation is batch-sized.
    Q("t38_dsir_drift_retrain",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val buckets = 512
        val shifted = docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), upper(col("text")).as("text"),
            lit("shifted").as("source"))
        // the gate: retrain ONLY because the monitor fired
        val (dist, tot) = graft.operators.Dsir.trainDist(docs, "text", buckets)
        val fired = graft.operators.Dsir.driftStat(shifted, "text", dist,
            tot, buckets, DriftThreshold, "shifted")
          .collect()(0).getAs[Boolean]("drifted")
        require(fired,
          "t38 declares the fired path: the planted shift must trip t37's gate")
        val base = docs.select(col("doc_id"), col("text"), col("source"))
        val w0 = graft.operators.Dsir.trainWeights(base, "doc_id", "text",
          "source", "src0", buckets)
        val w1 = graft.operators.Dsir.trainWeights(
          base.unionByName(shifted.select(
            (col("doc_id") + lit(1000000L)).as("doc_id"), col("text"),
            col("source"))),
          "doc_id", "text", "source", "src0", buckets)
        graft.operators.Dsir.serveScores(shifted, "doc_id", "text", w0, buckets)
          .withColumnRenamed("dsir_score", "score_pre")
          .join(graft.operators.Dsir
            .serveScores(shifted, "doc_id", "text", w1, buckets)
            .withColumnRenamed("dsir_score", "score_post"), Seq("doc_id"))
      },
      Some {
        val buckets = 512
        def sd6(e: String) = s"CAST(round($e, 6) AS DECIMAL(18,6))"
        def weightsCtes(tag: String, rel: String) =
          s"""t$tag AS (
             |  SELECT source, unnest(${TextFns.tokensSql("text")}) AS term
             |  FROM ($rel)),
             |b$tag AS (
             |  SELECT (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
             |         COUNT(*) AS rc,
             |         SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc
             |  FROM t$tag GROUP BY 1),
             |tot$tag AS (SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM b$tag),
             |w$tag AS (
             |  SELECT bucket,
             |    ${sd6(s"ln(CAST(tc + 1 AS DOUBLE) / CAST(ttot + $buckets AS DOUBLE))")} -
             |    ${sd6(s"ln(CAST(rc + 1 AS DOUBLE) / CAST(rtot + $buckets AS DOUBLE))")} AS w
             |  FROM b$tag CROSS JOIN tot$tag)""".stripMargin
        s"""WITH shifted AS (
           |  SELECT doc_id, upper(text) AS text, 'shifted' AS source
           |  FROM documents WHERE doc_id % 7 = 3),
           |base AS (SELECT doc_id, text, source FROM documents),
           |${weightsCtes("0", "SELECT * FROM base")},
           |${weightsCtes("1",
              "SELECT * FROM base UNION ALL " +
                "SELECT doc_id + 1000000 AS doc_id, text, source FROM shifted")},
           |f AS (
           |  SELECT doc_id,
           |         (${TextFns.md5Hash32Sql("term")}) % $buckets AS bucket,
           |         COUNT(*) AS cnt
           |  FROM (SELECT doc_id, unnest(${TextFns.tokensSql("text")}) AS term
           |        FROM shifted) GROUP BY 1, 2),
           |s0 AS (SELECT f.doc_id, SUM(f.cnt * w.w) AS sw
           |       FROM f JOIN w0 w USING (bucket) GROUP BY 1),
           |s1 AS (SELECT f.doc_id, SUM(f.cnt * w.w) AS sw
           |       FROM f JOIN w1 w USING (bucket) GROUP BY 1)
           |SELECT sh.doc_id,
           |  round(CAST(COALESCE(s0.sw, 0) AS DOUBLE), 6) AS score_pre,
           |  round(CAST(COALESCE(s1.sw, 0) AS DOUBLE), 6) AS score_post
           |FROM shifted sh
           |LEFT JOIN s0 ON s0.doc_id = sh.doc_id
           |LEFT JOIN s1 ON s1.doc_id = sh.doc_id""".stripMargin
      }),
  )

}
