package graft.operators

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline operators over `documents` ([EXT], SURVEY §2.C):
  * deterministic content-keyed train/val/test splitting, weighted corpus
  * mixing, and the end-to-end curation pipeline (quality filter → exact
  * dedup → token accounting) every LLM data pipeline runs before training.
  *
  * Scale design: all three are single-pass projections + one hash
  * aggregation (q48 adds the q30-style hash-first dedup exchange). The
  * split/mix decisions are PURE functions of document CONTENT (md5 of the
  * text), not of row order, partitioning, or RNG state — re-running the
  * pipeline on a grown corpus never migrates an old document between
  * splits (train/test leakage), and byte-identical duplicates always land
  * in the same split. That is the property a 100 TB training pipeline
  * needs and `df.sample`/`rand()` cannot give.
  */
object Pipeline {
  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  /** docs scan spread ahead of a fan-out with a DISTINCT-heavy consumer
    * (r14, the TextAnalysis.docsSpread twin — see its comment for the
    * full 16-site A/B). Only q113's boilerplateTopK keeps it here: its
    * count_distinct(doc_id)-per-gram consumer cannot pre-reduce on the
    * map side. Mechanism: hashpartitioning(doc_id) already satisfies the
    * (ng, doc_id) distinct's clustering, so the spread REPLACES that
    * gram-pair exchange instead of adding a third — the pre-split plan
    * shows (ng, doc_id) + (ng) exchanges, the spread plan doc_id + (ng)
    * (plans/r14/q113_*), and the explode runs on every core. Interleaved
    * A/B at sf0.1, local[4] on a 4-core box (noop sink, 2 warm-ups, 8
    * interleaved runs): plain 628 ms min / 741 median, spread 450 / 483
    * (a re-run: plain 607 / 691, spread 354 / 456); top-20 rows
    * identical. The OTHER fiveGramsOf
    * consumers (q105/q112/q192 semi-join decontamination) measured
    * 1.25–1.56× WORSE spread — their broadcast semi-joins compact
    * map-side, same lesson as spanDecon's r13 revert (note at its def);
    * q300's normalize+md5 map measured 1.33× worse too. */
  private def docsSpread(s: SparkSession, d: String): DataFrame =
    graft.Scale.spreadForFanout(docs(s, d), col("doc_id"))

  /** Deterministic per-document bucket in [0, 1000): first 14 hex chars of
    * the text md5 (56 bits, positive) mod 1000 — bit-identical in DuckDB.
    */
  private def bucket1000(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 14), 16, 10).cast("long") % 1000L

  private def bucket1000Sql(e: String): String =
    s"((('0x' || substr(md5($e), 1, 14))::BIGINT) % 1000)"

  // ---------------------------------------------------------------- q47
  // Content-keyed train/val/test split (80/10/10). Hashing the TEXT (not
  // doc_id) puts byte-identical duplicates in the same split — the
  // standard leakage guard — and keeps assignment stable under re-ingest
  // (ids may be reassigned; content hashes are not).
  private val q47 = QueryDef(
    "q47_hash_split",
    (s, d) =>
      docs(s, d)
        .withColumn("b", bucket1000(col("text")))
        .withColumn("split",
          when(col("b") < 800, lit("train"))
            .when(col("b") < 900, lit("val"))
            .otherwise(lit("test")))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("split")),
    Some(s"""
      SELECT lang,
             CASE WHEN b < 800 THEN 'train'
                  WHEN b < 900 THEN 'val'
                  ELSE 'test' END AS split,
             count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM (SELECT lang, n_chars, ${bucket1000Sql("text")} AS b
            FROM documents) t
      GROUP BY 1, 2
      ORDER BY lang, split"""))

  // ---------------------------------------------------------------- q48
  // End-to-end curation pipeline — the composition every training corpus
  // goes through, in ONE declarative plan Catalyst optimizes as a whole:
  //   1. quality filter (q41's blended score ≥ 0.96) — a codegen'd scan
  //      predicate, evaluated before anything shuffles;
  //   2. exact dedup, hash-first (q30's shape: the exchange key is
  //      md5+length, text is projected away before the shuffle);
  //   3. per-language token accounting of the surviving corpus.
  // Output: what actually feeds the trainer — kept docs and token counts
  // per language, plus how many docs dedup removed after the filter.
  private val Stop = Seq("the", "a", "of", "and", "to", "in")
  private val stopArr = s"array(${Stop.map(w => s"'$w'").mkString(", ")})"
  private val stopList = s"[${Stop.map(w => s"'$w'").mkString(", ")}]"

  private val q48 = QueryDef(
    "q48_curation_pipeline",
    (s, d) => {
      val scored = docs(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_stop",
          expr(s"size(filter(toks, w -> array_contains($stopArr, w)))")
            .cast("long"))
        .withColumn("n_punct",
          length(regexp_replace(col("text"), "[^.,!?;]", "")).cast("long"))
        .withColumn("quality",
          // n_chars = 0 (empty doc): guard to NULL — the ≥ 0.96 filter
          // then drops the row in BOTH engines (NULL comparison), where
          // unguarded Spark ANSI throws scan-side (DegenerateDataSpec)
          when(col("n_chars") > 0L,
            round(
              lit(1.0) -
                (col("n_stop").cast("double") / col("n_tok").cast("double")) * 0.5 -
                (col("n_punct").cast("double") / col("n_chars").cast("double")) * 0.5,
              6)))
        .filter(col("quality") >= 0.96)
      // representative = argmin(doc_id), carrying (lang, n_tok).
      // min(struct(...)) would plan SortAggregate (per-task corpus sort —
      // the q122/q30 trap); instead TWO packed int64 argmins in ONE hash
      // aggregate: both key on the same unique doc_id in the high bits,
      // so they pick the same row, and the payload rides the low bits
      // (lang as a 10-bit 2-letter code, n_tok under 2^20 — a ≥1M-token
      // doc would need the wider dictionary-encoded form, documented).
      val reps = scored
        .select(md5(col("text").cast("binary")).as("h"), col("n_chars"),
          (col("doc_id") * 1024L +
            (ascii(substring(col("lang"), 1, 1)) - 97) * 26L +
            (ascii(substring(col("lang"), 2, 1)) - 97L)).as("pl"),
          (col("doc_id") * 1048576L + col("n_tok")).as("pt"))
        .groupBy(col("h"), col("n_chars"))
        .agg(min(col("pl")).as("mpl"), min(col("pt")).as("mpt"),
          count(lit(1)).as("grp"))
        .select(
          concat(char(lit(97) + expr("(mpl % 1024) DIV 26")),
            char(lit(97) + expr("(mpl % 1024) % 26"))).as("lang"),
          (col("mpt") % 1048576L).as("n_tok"),
          col("grp"))
      reps.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tok")).as("tokens_kept"),
          (sum(col("grp")) - count(lit(1))).as("n_deduped"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH scored AS (
        SELECT doc_id, lang, text, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               round(1.0
                 - (CAST(len(list_filter(string_split(text, ' '),
                              w -> list_contains($stopList, w))) AS DOUBLE)
                    / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
                 - (CAST(length(regexp_replace(text, '[^.,!?;]', '', 'g')) AS DOUBLE)
                    / CAST(n_chars AS DOUBLE)) * 0.5, 6) AS quality
        FROM documents),
      kept AS (SELECT * FROM scored WHERE quality >= 0.96),
      reps AS (
        SELECT lang, n_tok, grp FROM (
          SELECT lang, n_tok,
                 row_number() OVER (PARTITION BY md5(text), n_chars
                                    ORDER BY doc_id) AS rn,
                 count(*) OVER (PARTITION BY md5(text), n_chars) AS grp
          FROM kept) t
        WHERE rn = 1)
      SELECT lang, count(*) AS n_kept,
             CAST(sum(n_tok) AS BIGINT) AS tokens_kept,
             CAST(sum(grp) - count(*) AS BIGINT) AS n_deduped
      FROM reps
      GROUP BY lang
      ORDER BY lang"""))

  // ---------------------------------------------------------------- q49
  // Weighted corpus mixing: each source gets a deterministic sampling
  // rate (training mixes upweight curated sources and downsample crawl),
  // applied with the same content-keyed buckets as q47 — the mix is
  // reproducible run-to-run and engine-to-engine, and a document's fate
  // never depends on partitioning. Rates here derive from the source
  // index (src0..src19 → 25/50/75/100%) so the query is self-contained.
  private val q49 = QueryDef(
    "q49_corpus_mix",
    (s, d) =>
      docs(s, d)
        .withColumn("rate_m",
          (substring(col("source"), 4, 10).cast("long") % 4L + 1L) * 250L)
        .filter(bucket1000(col("text")) < col("rate_m"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("n_chars")).as("chars_sampled"))
        .orderBy(col("source")),
    Some(s"""
      SELECT source, count(*) AS n_sampled,
             CAST(sum(n_chars) AS BIGINT) AS chars_sampled
      FROM (
        SELECT source, n_chars,
               ${bucket1000Sql("text")} AS b,
               (CAST(substr(source, 4) AS BIGINT) % 4 + 1) * 250 AS rate_m
        FROM documents) t
      WHERE b < rate_m
      GROUP BY source
      ORDER BY source"""))

  // ---------------------------------------------------------------- q36
  // Deterministic stratified sampling: each language gets its own keep
  // rate (rare languages kept whole, dominant ones downsampled — the
  // standard corpus-balancing move). The keep decision is the same
  // content-hash bucket as q47, so the sample is reproducible, partition-
  // independent, and stable under re-ingest; `TABLESAMPLE`/`rand()` give
  // none of those. One scan + one hash aggregate — no shuffle of text.
  private val rateCase =
    "CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 250 WHEN 'es' THEN 500 " +
      "WHEN 'fr' THEN 750 ELSE 1000 END"

  private val q36 = QueryDef(
    "q36_stratified_sample",
    (s, d) =>
      docs(s, d)
        .withColumn("rate_m", expr(rateCase))
        .filter(bucket1000(col("text")) < col("rate_m"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("n_chars")).as("chars_sampled"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang")),
    Some(s"""
      SELECT lang, count(*) AS n_sampled,
             CAST(sum(n_chars) AS BIGINT) AS chars_sampled,
             count(DISTINCT source) AS n_sources
      FROM (
        SELECT lang, n_chars, source,
               ${bucket1000Sql("text")} AS b,
               $rateCase AS rate_m
        FROM documents) t
      WHERE b < rate_m
      GROUP BY lang
      ORDER BY lang"""))

  // --------------------------------------------------------------- q104
  // Document chunking: overlapping token windows (W=64, stride S=48 →
  // 25% overlap), the context-window primitive every embedding/RAG/
  // training pipeline runs between curation and encoding. A pure
  // generator op — explode over integer chunk STARTS (lambda-free, the
  // shingles lesson), then a positional slice per start — so it is a
  // single scan with no shuffle at all until the final presentation
  // sort; at 100 TB chunking is embarrassingly parallel and this plan
  // keeps it that way. Chunk identity is (doc_id, chunk_idx) with the
  // chunk content itself reduced to md5 + token count in the output —
  // the downstream contract (stable ids + verifiable content) without
  // hauling the expanded text through the gate. Chunks start at every
  // multiple of S below the token count, so a doc shorter than W yields
  // exactly one (possibly short) chunk; both engines slice past-the-end
  // as "rest of the list", mirrored by least() clamping in the oracle.
  private val q104 = QueryDef(
    "q104_doc_chunking",
    (s, d) =>
      docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"),
          explode(expr("sequence(0, size(toks) - 1, 48)")).as("start"))
        .select(col("doc_id"),
          (col("start") / 48).cast("long").as("chunk_idx"),
          expr("slice(toks, start + 1, 64)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_toks"),
          md5(expr("array_join(chunk, ' ')").cast("binary")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      starts AS (
        SELECT doc_id, toks, len(toks) AS n, unnest(range(0, len(toks), 48)) AS start
        FROM t)
      SELECT doc_id, start // 48 AS chunk_idx,
             CAST(least(start + 64, n) - start AS BIGINT) AS n_toks,
             md5(array_to_string(toks[start + 1 : least(start + 64, n)], ' '))
               AS chunk_md5
      FROM starts
      ORDER BY doc_id, chunk_idx"""))

  // --------------------------------------------------------------- q105
  // Eval-set decontamination: before trusting a benchmark, every eval
  // document is checked for 5-gram CONTAINMENT anywhere in the training
  // corpus — the standard pre-eval hygiene step, and a different shape
  // from near-dup (q31/q32 score symmetric pairwise similarity; this is
  // asymmetric membership of a small set against the whole corpus).
  // Plan, 100 TB-first: the eval side (doc_id % 97 = 3 here) is tiny, so
  // its distinct 5-gram set BROADCASTS and the corpus-side gram stream is
  // probed in place — the training corpus is scanned once and never
  // shuffles on grams; the only exchanged data is the hit set, bounded
  // by the eval grams. (The corpus-side inverted-index formulation would
  // shuffle the full gram dictionary — strictly worse while |eval| ≪
  // |train|.) 5-gram width measured on this corpus: 3-grams flag every
  // doc (common phrases), 7-grams flag none; 5 discriminates.
  /** (doc_id, ng): the word-5-gram stream, one row per gram occurrence —
    * lambda-free generator (positions exploded, gram projected after),
    * shared by q105/q112/q113. */
  /** Word-5-gram stream of any (doc_id, text) frame — the testable core
    * behind [[fiveGrams]]. */
  def fiveGramsOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0, size(toks) - 5)")).as("i"))
      .select(col("doc_id"),
        expr("array_join(slice(toks, i + 1, 5), ' ')").as("ng"))

  private def fiveGrams(s: SparkSession, d: String): DataFrame =
    fiveGramsOf(docs(s, d))

  private val q105 = QueryDef(
    "q105_decontamination",
    (s, d) => {
      val grams = fiveGrams(s, d)
      val isEval = col("doc_id") % 97 === 3
      // distinct ONLY on the eval side (n_ngrams counts distinct grams
      // per eval doc); the corpus side stays a raw stream — semi-join
      // membership doesn't need dedup, and a corpus-wide distinct would
      // be exactly the gram-dictionary shuffle this plan exists to avoid
      // (caught by an Explain audit: the shared distinct exchanged the
      // full gram stream)
      val evG = grams.filter(isEval).distinct()
      val trG = grams.filter(!isEval).select(col("ng"))
      // hit set: corpus grams probed against the broadcast eval set;
      // result is small (⊆ eval grams) so the distinct is cheap
      val hits = trG
        .join(broadcast(evG.select(col("ng")).distinct()), Seq("ng"), "left_semi")
        .distinct().withColumn("hit", lit(1))
      docs(s, d).filter(isEval).select(col("doc_id"))
        .join(
          evG.join(hits, Seq("ng"), "left")
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_ngrams"),
              count(col("hit")).as("n_hit")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 5
               THEN list_transform(range(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+4], ' '))
               ELSE [] END) AS ng
        FROM t),
      ev AS (SELECT doc_id, ng FROM g WHERE doc_id % 97 = 3),
      tr AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 <> 3),
      agg AS (
        SELECT ev.doc_id,
               CAST(count(*) AS BIGINT) AS n_ngrams,
               CAST(count(tr.ng) AS BIGINT) AS n_hit
        FROM ev LEFT JOIN tr ON ev.ng = tr.ng
        GROUP BY ev.doc_id)
      SELECT d.doc_id,
             COALESCE(a.n_ngrams, 0) AS n_ngrams,
             COALESCE(a.n_hit, 0) AS n_hit,
             COALESCE(a.n_hit, 0) > 0 AS contaminated
      FROM documents d
      LEFT JOIN agg a ON a.doc_id = d.doc_id
      WHERE d.doc_id % 97 = 3
      ORDER BY d.doc_id"""))

  // --------------------------------------------------------------- q106
  // Sequence packing: assign documents to fixed token-budget training
  // sequences (B = 1024) by the concatenate-and-chunk rule every
  // pre-training batcher uses — documents are laid out in a deterministic
  // order and a document belongs to the bin its first token lands in
  // (bin = start_offset div B). The layout order is (md5(text), doc_id)
  // per source: content-keyed like q47's splits, so packing is
  // reproducible run-to-run and immune to partitioning/ingest order —
  // rand() or input order would migrate documents between bins on every
  // rerun and poison resume-from-checkpoint training.
  // Scale: the cumulative sum is the one inherently sequential step of
  // packing, so the window key must bound what one task sorts. Keying by
  // `source` alone puts an entire source in ONE window partition — a
  // corpus-sized single-task sort when one source dominates (the common
  // case: a 100 TB crawl is one source). So the window partitions by
  // (source, shard) where shard = content-hash % 16 — the same
  // cross-engine md5 idiom as q47's buckets, derived from `h` so it adds
  // no hash work and keeps byte-identical duplicates co-sharded. Each
  // shard packs its own bins independently: bin NUMBERING is per-shard
  // but the packing property (every bin except a shard's last holds ≥
  // B tokens' worth of starts; offsets leave no gaps) is preserved, and
  // the per-task work drops from O(|source|) to O(|source|/16) — at
  // larger scale S rises with the cluster, the numbers stay exact.
  // One shuffle total: the (source, shard) exchange feeds the window,
  // and the (source, shard, bin) aggregation reuses that partitioning
  // (group keys ⊇ partition keys), so no second exchange — PlanSpec
  // pins both properties.
  private val q106 = QueryDef(
    "q106_sequence_packing",
    (s, d) => {
      val w = Window.partitionBy(col("source"), col("shard"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d)
        .select(col("source"), col("doc_id"),
          md5(col("text").cast("binary")).as("h"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("shard",
          conv(substring(col("h"), 1, 14), 16, 10).cast("long") % 16L)
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("bin", expr("(cum - n_tok) div 1024"))
        .groupBy(col("source"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy(col("source"), col("shard"), col("bin"))
    },
    Some("""
      WITH t AS (
        SELECT source, doc_id, md5(text) AS h,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      s AS (
        SELECT source, doc_id, h, n_tok,
               (('0x' || substr(h, 1, 14))::BIGINT) % 16 AS shard
        FROM t),
      c AS (
        SELECT source, shard, n_tok,
               CAST(sum(n_tok) OVER (PARTITION BY source, shard
                                     ORDER BY h, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM s)
      SELECT source, shard, (cum - n_tok) // 1024 AS bin,
             count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM c
      GROUP BY 1, 2, 3
      ORDER BY source, shard, bin"""))

  // --------------------------------------------------------------- q112
  // Corpus-side decontamination FILTER — the production action q105's
  // flags feed: drop every training document that shares any 5-gram with
  // the eval split and report per-source survival stats. Same asymmetric
  // membership as q105 (the eval gram set broadcasts; the corpus gram
  // stream is probed RAW and never shuffles on grams); the contaminated-id
  // set that survives the semi-join is leakage — the exception by
  // construction — so it broadcasts into the corpus-side left join and the
  // corpus never reshuffles there either. One corpus scan for grams, one
  // for the stats aggregation; zero corpus-keyed exchanges.
  /** The q112 filter + survival-stats pipeline over any
    * (doc_id, text, source) frame — the testable core. */
  def decontaminateStats(d: DataFrame, isEval: Column): DataFrame = {
    val grams = fiveGramsOf(d)
    val evSet = grams.filter(isEval).select(col("ng")).distinct()
    val bad = grams.filter(!isEval)
      .join(broadcast(evSet), Seq("ng"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("bad", lit(1))
    d.filter(!isEval)
      .join(broadcast(bad), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bad").isNotNull, lit(1L)).otherwise(lit(0L)))
            .as("n_dropped"),
          sum(when(col("bad").isNull, lit(1L)).otherwise(lit(0L)))
            .as("n_kept"),
          sum(when(col("bad").isNull,
            size(split(col("text"), " ")).cast("long")).otherwise(lit(0L)))
            .as("tokens_kept"))
      .orderBy(col("source"))
  }

  private val q112 = QueryDef(
    "q112_decontaminate_corpus",
    (s, d) => decontaminateStats(docs(s, d), col("doc_id") % 97 === 3),
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
               THEN list_transform(range(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+4], ' '))
               ELSE [] END) AS ng
        FROM t),
      ev AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 3),
      bad AS (
        SELECT DISTINCT g.doc_id
        FROM g JOIN ev USING (ng)
        WHERE g.doc_id % 97 <> 3)
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
             CAST(sum(CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(sum(CASE WHEN b.doc_id IS NULL
                  THEN CAST(len(string_split(text, ' ')) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS tokens_kept
      FROM documents d
      LEFT JOIN bad b ON b.doc_id = d.doc_id
      WHERE d.doc_id % 97 <> 3
      GROUP BY source
      ORDER BY source"""))

  // --------------------------------------------------------------- q300
  // Curation pipeline v2 — the round-8 capstone composition: q48/q213
  // chain filter→dedup→account; this chains the r8 operators into the
  // pipeline a 2024-era LLM corpus actually runs, as ONE declarative
  // plan Catalyst optimizes end to end:
  //   1. benchmark EXCLUSION (eval split doc_id % 13 = 7 leaves the
  //      training corpus entirely);
  //   2. SPAN SURGERY (q285 core): contaminated 13-gram spans are cut,
  //      not the whole doc — effective tokens = n_tok − removed;
  //   3. CANONICAL DEDUP (q247 identity): one representative (min
  //      doc_id) per normalized-content hash;
  //   4. post-surgery LENGTH FLOOR (eff_tok ≥ 30) — quality gating on
  //      what SURVIVES the cut, not the raw length;
  //   5. IPF RAKING (q295, one iteration) over effective TOKEN mass:
  //      source marginal pulled to uniform, language mix preserved.
  // Per (source, lang): the stage-by-stage survivor counts, effective
  // tokens, calibration weight, and the weighted token mass a sampler
  // would draw against.
  //
  // Scale: each stage keeps its own verified shape — the surgery's
  // eval gram set and per-doc summaries broadcast; dedup is the
  // hash-first exchange; the floor is a scan predicate; raking runs on
  // the (source, lang) grid with 1e-9-quantized marginal sums. The
  // composition adds NO new shuffle beyond its stages' own.
  private val q300 = QueryDef(
    "q300_curation_v2",
    (s, d) => {
      val isEval = col("doc_id") % 13 === 7
      val nonEval = docs(s, d).filter(!isEval)
        .select(col("doc_id"), col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          md5(trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]+", " "), " +", " ")).cast("binary")).as("hc"))
      val surgery = spanDecon(docs(s, d), isEval, 13)
        .select(col("doc_id"), col("removed_tok"))
      val eff = nonEval.join(broadcast(surgery), Seq("doc_id"), "left")
        .na.fill(0L, Seq("removed_tok"))
        .withColumn("eff_tok", col("n_tok") - col("removed_tok"))
      val reps = eff.groupBy(col("hc")).agg(min(col("doc_id")).as("doc_id"))
      val dedup = eff.join(reps.select(col("doc_id")), Seq("doc_id"),
        "left_semi")
      val kept = dedup.filter(col("eff_tok") >= 30L)
      val nIn = nonEval.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_in"))
      val nDedup = dedup.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_dedup"))
      val cells = kept.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("eff_tok")).as("toks"))
      val srcM = cells.groupBy(col("source")).agg(sum(col("toks")).as("t_s"))
      val langM = cells.groupBy(col("lang")).agg(sum(col("toks")).as("t_l"))
      val tot = cells.agg(sum(col("toks")).as("tt"),
        countDistinct(col("source")).as("ns")) // 1 row
      val f = cells.join(broadcast(srcM), "source")
        .crossJoin(broadcast(tot))
        .withColumn("f_s",
          (col("tt").cast("double") / col("ns").cast("double")) /
            col("t_s").cast("double"))
      val mL = f.select(col("lang"),
          round(col("toks").cast("double") * col("f_s") * lit(1e9))
            .cast("long").as("mq"))
        .groupBy(col("lang"))
        .agg((sum(col("mq")).cast("double") / lit(1e9)).as("m_l"))
      f.join(broadcast(mL), "lang").join(broadcast(langM), "lang")
        .withColumn("weight", col("f_s") *
          (col("t_l").cast("double") / col("m_l")))
        .join(broadcast(nIn), Seq("source", "lang"))
        .join(broadcast(nDedup), Seq("source", "lang"))
        .select(col("source"), col("lang"), col("n_in"), col("n_dedup"),
          col("n_kept"), col("toks").as("eff_tokens"),
          Num.roundZ(col("weight"), 6).as("weight"),
          Num.roundZ(col("toks").cast("double") * col("weight"), 6)
            .as("token_mass"))
        .orderBy(col("source"), col("lang"))
    },
    Some("""
      WITH t0 AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      tk AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok, toks
        FROM t0 WHERE len(toks) >= 13),
      g AS (
        SELECT doc_id, n_tok,
               CAST(unnest(range(0, n_tok - 12)) AS BIGINT) AS p,
               unnest(list_transform(range(1, n_tok - 11),
                 i -> array_to_string(toks[i:i+12], ' '))) AS ng
        FROM tk),
      evg AS (SELECT DISTINCT ng FROM g WHERE doc_id % 13 = 7),
      h AS (
        SELECT g.doc_id, g.p
        FROM g JOIN evg USING (ng) WHERE g.doc_id % 13 <> 7),
      marked AS (
        SELECT doc_id, p,
               CASE WHEN lag(p) OVER w IS NULL
                     OR p > lag(p) OVER w + 12 THEN 1 ELSE 0 END AS st
        FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
      si AS (
        SELECT doc_id, p,
               sum(st) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked),
      spans AS (
        SELECT doc_id, sid, min(p) AS s, max(p) + 12 AS e
        FROM si GROUP BY 1, 2),
      surgery AS (
        SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS removed_tok
        FROM spans GROUP BY 1),
      noneval AS (
        SELECT doc_id, source, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g'))) AS hc
        FROM documents WHERE doc_id % 13 <> 7),
      eff AS (
        SELECT ne.doc_id, ne.source, ne.lang, ne.hc,
               ne.n_tok - COALESCE(su.removed_tok, 0) AS eff_tok
        FROM noneval ne LEFT JOIN surgery su USING (doc_id)),
      reps AS (SELECT min(doc_id) AS doc_id FROM eff GROUP BY hc),
      dedup AS (
        SELECT e.* FROM eff e WHERE e.doc_id IN (SELECT doc_id FROM reps)),
      kept AS (SELECT * FROM dedup WHERE eff_tok >= 30),
      nin AS (SELECT source, lang, count(*) AS n_in
              FROM noneval GROUP BY 1, 2),
      ndedup AS (SELECT source, lang, count(*) AS n_dedup
                 FROM dedup GROUP BY 1, 2),
      cells AS (
        SELECT source, lang, count(*) AS n_kept,
               CAST(sum(eff_tok) AS BIGINT) AS toks
        FROM kept GROUP BY 1, 2),
      srcm AS (SELECT source, CAST(sum(toks) AS BIGINT) AS t_s
               FROM cells GROUP BY 1),
      langm AS (SELECT lang, CAST(sum(toks) AS BIGINT) AS t_l
                FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(toks) AS BIGINT) AS tt,
                     count(DISTINCT source) AS ns FROM cells),
      f AS (
        SELECT c.source, c.lang, c.n_kept, c.toks,
               (CAST(t.tt AS DOUBLE) / CAST(t.ns AS DOUBLE))
                 / CAST(s.t_s AS DOUBLE) AS f_s
        FROM cells c JOIN srcm s USING (source) CROSS JOIN tot t),
      ml AS (
        SELECT lang,
               CAST(sum(CAST(round(CAST(toks AS DOUBLE) * f_s * 1e9)
                 AS BIGINT)) AS DOUBLE) / 1e9 AS m_l
        FROM f GROUP BY 1),
      w AS (
        SELECT f.source, f.lang, f.n_kept, f.toks,
               f.f_s * (CAST(l.t_l AS DOUBLE) / m.m_l) AS weight
        FROM f JOIN ml m USING (lang) JOIN langm l USING (lang))
      SELECT w.source, w.lang, nin.n_in, ndedup.n_dedup, w.n_kept,
             w.toks AS eff_tokens,
             (CAST(round(w.weight * 1e6) AS BIGINT) / 1e6) AS weight,
             (CAST(round((CAST(w.toks AS DOUBLE) * w.weight) * 1e6)
               AS BIGINT) / 1e6) AS token_mass
      FROM w
      JOIN nin USING (source, lang)
      JOIN ndedup USING (source, lang)
      ORDER BY w.source, w.lang"""))

  // --------------------------------------------------------------- q295
  // One IPF raking iteration ([EXT], iterative proportional fitting /
  // survey calibration): reweight (source, lang) corpus cells so the
  // weighted SOURCE marginal hits a uniform target while the LANG
  // marginal stays at its observed share — the calibration step behind
  // q49/q115's mixtures when BOTH axes carry constraints (a temperature
  // weight per source alone, q115, cannot hold the language mix fixed).
  // One full iteration = source scale f_s = (N/|S|)/n_s, then lang
  // scale g_l = n_l / m_l with m_l the f-weighted lang mass; the
  // per-cell weight is f_s·g_l. The report carries each source's
  // ACHIEVED share after the iteration — visibly pulled toward 1/|S|
  // but not exactly there, which is precisely why production IPF loops
  // (each further round touches only the |S|×|L| grid, never the
  // corpus).
  //
  // Exactness: f_s and g_l are fixed-order expressions of exact BIGINT
  // counts; the two marginal sums (m_l, the achieved source mass) are
  // order-sensitive, so each term quantizes to a 1e-9 BIGINT grid
  // pre-sum (q225 discipline) and divides back once. Scale: ONE corpus
  // scan to the (source, lang) grid; everything after runs on the grid
  // with broadcast marginals.
  private val q295 = QueryDef(
    "q295_ipf_raking",
    (s, d) => {
      val cells = docs(s, d).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val srcM = cells.groupBy(col("source")).agg(sum(col("n")).as("n_s"))
      val langM = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_l"))
      val tot = cells.agg(sum(col("n")).as("nn"),
        countDistinct(col("source")).as("ns")) // 1 row
      val f = cells.join(broadcast(srcM), "source")
        .crossJoin(broadcast(tot))
        .withColumn("f_s",
          (col("nn").cast("double") / col("ns").cast("double")) /
            col("n_s").cast("double"))
      val mL = f.select(col("lang"),
          round(col("n").cast("double") * col("f_s") * lit(1e9))
            .cast("long").as("mq"))
        .groupBy(col("lang"))
        .agg((sum(col("mq")).cast("double") / lit(1e9)).as("m_l"))
      val w = f.join(broadcast(mL), "lang")
        .join(broadcast(langM), "lang")
        .withColumn("weight", col("f_s") *
          (col("n_l").cast("double") / col("m_l")))
      val srcAfter = w.select(col("source"),
          round(col("n").cast("double") * col("weight") * lit(1e9))
            .cast("long").as("sq"))
        .groupBy(col("source"))
        .agg((sum(col("sq")).cast("double") / lit(1e9)).as("s_mass"))
      w.join(broadcast(srcAfter), "source")
        .select(col("source"), col("lang"), col("n").as("n_docs"),
          Num.roundZ(col("weight"), 6).as("weight"),
          Num.roundZ(col("n").cast("double") * col("weight"), 6)
            .as("cell_mass"),
          Num.roundZ(col("s_mass") / col("nn").cast("double"), 6)
            .as("src_share_after"))
        .orderBy(col("source"), col("lang"))
    },
    Some("""
      WITH cells AS (
        SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
      srcm AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_s
               FROM cells GROUP BY 1),
      langm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_l
                FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                     count(DISTINCT source) AS ns FROM cells),
      f AS (
        SELECT c.source, c.lang, c.n,
               (CAST(t.nn AS DOUBLE) / CAST(t.ns AS DOUBLE))
                 / CAST(s.n_s AS DOUBLE) AS f_s,
               t.nn
        FROM cells c JOIN srcm s USING (source) CROSS JOIN tot t),
      ml AS (
        SELECT lang,
               CAST(sum(CAST(round(CAST(n AS DOUBLE) * f_s * 1e9)
                 AS BIGINT)) AS DOUBLE) / 1e9 AS m_l
        FROM f GROUP BY 1),
      w AS (
        SELECT f.source, f.lang, f.n, f.nn,
               f.f_s * (CAST(l.n_l AS DOUBLE) / m.m_l) AS weight
        FROM f JOIN ml m USING (lang) JOIN langm l USING (lang)),
      sa AS (
        SELECT source,
               CAST(sum(CAST(round(CAST(n AS DOUBLE) * weight * 1e9)
                 AS BIGINT)) AS DOUBLE) / 1e9 AS s_mass
        FROM w GROUP BY 1)
      SELECT w.source, w.lang, w.n AS n_docs,
             (CAST(round(w.weight * 1e6) AS BIGINT) / 1e6) AS weight,
             (CAST(round((CAST(w.n AS DOUBLE) * w.weight) * 1e6) AS BIGINT)
               / 1e6) AS cell_mass,
             (CAST(round((sa.s_mass / CAST(w.nn AS DOUBLE)) * 1e6)
               AS BIGINT) / 1e6) AS src_share_after
      FROM w JOIN sa USING (source)
      ORDER BY w.source, w.lang"""))

  // --------------------------------------------------------------- q285
  // Span-level decontamination surgery ([EXT], the GPT-3 appendix-C
  // method): q105/q112/q120 DROP whole contaminated documents; real
  // pipelines instead CUT the contaminated spans and keep the clean
  // remainder — a doc sharing one benchmark sentence shouldn't cost its
  // other 900 tokens. For every train doc (eval split doc_id % 13 = 7 —
  // chosen so planted near-dup pairs straddle the split at every SF,
  // unlike q112's % 97 split which holds no 13-gram overlap at sf0.01),
  // find each token position starting a 13-gram that appears anywhere
  // in the eval set, dilate to the covered interval [p, p+12], merge
  // overlapping intervals per doc (gaps-and-islands on start positions:
  // ends are monotone in p, so `p > lag(p) + 12` is the exact island
  // break), and report the surgical outcome per contaminated doc:
  // span count, span list ("start-end" ANSI listagg, q217 discipline),
  // removed tokens, and exact kept fraction.
  //
  // Scale: the eval gram set is benchmark-sized and BROADCASTS (q105's
  // asymmetric-membership shape) — the corpus gram stream is probed by
  // a semi-join and never shuffles on grams; the island windows run
  // PARTITIONED by doc_id over hit positions only (contaminated starts,
  // ≪ tokens); the final join back to `documents` broadcasts the tiny
  // contaminated-doc summary. One corpus scan end-to-end.
  /** The q285 span-surgery core over any (doc_id, text) frame — the
    * testable unit: returns one row per contaminated non-eval doc with
    * merged span islands, removed-token count and exact kept fraction.
    * PipelineSpec feeds it planted-contamination fixtures and checks
    * the island merging (overlapping and adjacent hits fuse; disjoint
    * hits stay separate spans) against hand-computed intervals. */
  def spanDecon(d: DataFrame, isEval: Column, K: Int): DataFrame = {
      // r13 probe, REVERTED: the gram stream below fuses with a one-split
      // scan at bench SFs (StageProf: a single-task 1.2 s stage in
      // q300/q285), so a Scale.spreadForFanout was tried here — and
      // measured WORSE (interleaved A/B ×3 at matched load: q285
      // 1.8–2.0 → 2.6 s, q300 4.1–4.5 → 6.0–6.5 s): the gram stream
      // feeds two consumers (evSet + hits) and the extra exchange costs
      // more than this instance's throttled 32-way parallelism returns.
      // At production scale the scan arrives pre-split and the helper
      // would be a no-op anyway, so there is no at-scale argument to
      // keep it. Kept as the documented counter-example to the q31/q369
      // spreads.
      val grams = d
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= K)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
          col("toks"), explode(expr(s"sequence(0, size(toks) - $K)")).as("p"))
        .select(col("doc_id"), col("n_tok"), col("p").cast("long").as("p"),
          expr(s"array_join(slice(toks, p + 1, $K), ' ')").as("ng"))
      val evSet = grams.filter(isEval).select(col("ng")).distinct()
      val hits = grams.filter(!isEval)
        .join(broadcast(evSet), Seq("ng"), "left_semi")
        .select(col("doc_id"), col("n_tok"), col("p"))
      val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val spans = hits
        .withColumn("st", when(lag(col("p"), 1).over(wOrd).isNull ||
          col("p") > lag(col("p"), 1).over(wOrd) + lit(K - 1).cast("long"),
          1L).otherwise(0L))
        .withColumn("sid", sum(col("st")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("n_tok"), col("sid"))
        .agg(min(col("p")).as("s"),
          (max(col("p")) + lit(K - 1).cast("long")).as("e"))
      spans.groupBy(col("doc_id"), col("n_tok"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s") + 1L).as("removed_tok"),
          expr("listagg(CAST(s AS STRING) || '-' || CAST(e AS STRING), ',') " +
            "WITHIN GROUP (ORDER BY s)").as("spans"))
        .withColumn("kept_frac",
          (col("n_tok") - col("removed_tok")).cast("double") /
            col("n_tok").cast("double"))
  }

  private val q285 = QueryDef(
    "q285_span_decontamination",
    (s, d) => {
      val per = spanDecon(docs(s, d), col("doc_id") % 13 === 7, 13)
      docs(s, d).select(col("doc_id"), col("source"))
        .join(broadcast(per), "doc_id")
        .select(col("doc_id"), col("source"), col("n_tok"), col("n_spans"),
          col("removed_tok"), col("kept_frac"), col("spans"))
        .orderBy(col("removed_tok").desc, col("doc_id"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      tk AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok, toks
        FROM t WHERE len(toks) >= 13),
      g AS (
        SELECT doc_id, n_tok,
               CAST(unnest(range(0, n_tok - 12)) AS BIGINT) AS p,
               unnest(list_transform(range(1, n_tok - 11),
                 i -> array_to_string(toks[i:i+12], ' '))) AS ng
        FROM tk),
      ev AS (SELECT DISTINCT ng FROM g WHERE doc_id % 13 = 7),
      h AS (
        SELECT g.doc_id, g.n_tok, g.p
        FROM g JOIN ev USING (ng) WHERE g.doc_id % 13 <> 7),
      marked AS (
        SELECT doc_id, n_tok, p,
               CASE WHEN lag(p) OVER w IS NULL
                     OR p > lag(p) OVER w + 12 THEN 1 ELSE 0 END AS st
        FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
      si AS (
        SELECT doc_id, n_tok, p,
               sum(st) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked),
      spans AS (
        SELECT doc_id, n_tok, sid,
               CAST(min(p) AS BIGINT) AS s, CAST(max(p) + 12 AS BIGINT) AS e
        FROM si GROUP BY 1, 2, 3),
      per AS (
        SELECT doc_id, n_tok, count(*) AS n_spans,
               CAST(sum(e - s + 1) AS BIGINT) AS removed_tok,
               string_agg(CAST(s AS VARCHAR) || '-' || CAST(e AS VARCHAR),
                 ',' ORDER BY s) AS spans
        FROM spans GROUP BY 1, 2)
      SELECT d.doc_id, d.source, per.n_tok, per.n_spans, per.removed_tok,
             CAST(per.n_tok - per.removed_tok AS DOUBLE)
               / CAST(per.n_tok AS DOUBLE) AS kept_frac,
             per.spans
      FROM per JOIN documents d USING (doc_id)
      ORDER BY removed_tok DESC, doc_id"""))

  // --------------------------------------------------------------- q113
  // Boilerplate detection: the word-5-grams recurring across the most
  // DOCUMENTS (doc-frequency, not occurrence count — a gram repeated
  // inside one template doc is repetition, q46's business; a gram shared
  // across many docs is boilerplate: headers, footers, license blocks —
  // what C4-style curation strips before training).
  // Scale: cross-document counting is inherently a gram-keyed statistic,
  // so this op pays ONE gram-keyed exchange (the q107-vocab shape — the
  // cost is the point, unlike q105 where it was avoidable); Zipf skew is
  // absorbed by partial aggregation below the exchange. The df >= 2
  // filter drops the singleton long tail — the overwhelming majority of
  // grams — before the top-k heap, and the cut is a TakeOrdered over the
  // gram dictionary, never a global sort.
  /** The q113 doc-frequency top-k over any (doc_id, text) frame — the
    * testable core. */
  def boilerplateTopK(d: DataFrame, k: Int): DataFrame = {
    val dfq = fiveGramsOf(d)
      .groupBy(col("ng")).agg(count_distinct(col("doc_id")).as("df"))
    val top = dfq.filter(col("df") >= 2)
      .orderBy(col("df").desc, col("ng")).limit(k)
    // rank window runs over the k TakeOrdered survivors only
    val w = Window.orderBy(col("df").desc, col("ng"))
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("rk"), col("ng"), col("df"))
      .orderBy(col("rk"))
  }

  private val q113 = QueryDef(
    "q113_boilerplate_ngrams",
    (s, d) => boilerplateTopK(docsSpread(s, d), 20),
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
               THEN list_transform(range(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+4], ' '))
               ELSE [] END) AS ng
        FROM t),
      dfq AS (SELECT ng, count(DISTINCT doc_id) AS df FROM g GROUP BY 1)
      SELECT CAST(rk AS BIGINT) AS rk, ng, df FROM (
        SELECT ng, df, row_number() OVER (ORDER BY df DESC, ng) AS rk
        FROM dfq WHERE df >= 2) t
      WHERE rk <= 20
      ORDER BY rk"""))

  // --------------------------------------------------------------- q114
  // PII redaction — scrub emails / phone numbers / IPv4s before training,
  // reporting per-source match and length accounting. The synthetic
  // corpus carries no PII by construction, so a DETERMINISTIC injection
  // (doc_id-keyed, mirrored bit-for-bit in the oracle) plants each PII
  // kind in 1/7 of docs — the cross-engine regex parity check is real,
  // not vacuously zero-matches; the 4/7 uninjected docs are the
  // negatives. Patterns stay in the Java-regex ∩ RE2 common subset
  // (character classes, no backrefs/lookarounds) so Spark and DuckDB
  // compile them identically; Spark's regexp_replace is global by
  // default while DuckDB needs the explicit 'g' flag.
  // Scale: one corpus scan, three codegen'd regex passes per row, one
  // per-source aggregation — no shuffle wider than the 20-row source key.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val IpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** doc_id-keyed deterministic PII injection (q114's test harness). */
  def injectPii(text: Column, docId: Column): Column =
    when(docId % 7 === 0,
      concat(text, lit(" contact user"), docId.cast("string"),
        lit("@example.com now")))
      .when(docId % 7 === 1,
        concat(text, lit(" call 555-"),
          lpad((docId % 1000).cast("string"), 3, "0"), lit("-0199")))
      .when(docId % 7 === 2,
        concat(text, lit(" from 10.0."), (docId % 256).cast("string"),
          lit(".77 port")))
      .otherwise(text)

  /** Email → phone → IPv4 redaction chain (order is safe: the three
    * pattern alphabets cannot produce a new match for a later pass). */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")

  private val q114 = QueryDef(
    "q114_pii_redaction",
    (s, d) => {
      val raw = docs(s, d).select(col("source"),
        injectPii(col("text"), col("doc_id")).as("raw"))
      val red = raw.withColumn("red", redactPii(col("raw")))
      red.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0)))
            .cast("long")).as("n_emails"),
          sum(size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0)))
            .cast("long")).as("n_phones"),
          sum(size(regexp_extract_all(col("raw"), lit(IpRe), lit(0)))
            .cast("long")).as("n_ips"),
          sum(length(col("raw")).cast("long")).as("len_raw"),
          sum(length(col("red")).cast("long")).as("len_red"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH raw AS (
        SELECT source,
               CASE WHEN doc_id % 7 = 0
                      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                           || '@example.com now'
                    WHEN doc_id % 7 = 1
                      THEN text || ' call 555-'
                           || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                           || '-0199'
                    WHEN doc_id % 7 = 2
                      THEN text || ' from 10.0.'
                           || CAST(doc_id % 256 AS VARCHAR) || '.77 port'
                    ELSE text END AS raw
        FROM documents),
      red AS (
        SELECT source, raw,
               regexp_replace(regexp_replace(regexp_replace(raw,
                 '$EmailRe', '<EMAIL>', 'g'),
                 '$PhoneRe', '<PHONE>', 'g'),
                 '$IpRe', '<IP>', 'g') AS red
        FROM raw)
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(regexp_extract_all(raw, '$EmailRe'))) AS BIGINT)
               AS n_emails,
             CAST(sum(len(regexp_extract_all(raw, '$PhoneRe'))) AS BIGINT)
               AS n_phones,
             CAST(sum(len(regexp_extract_all(raw, '$IpRe'))) AS BIGINT)
               AS n_ips,
             CAST(sum(length(raw)) AS BIGINT) AS len_raw,
             CAST(sum(length(red)) AS BIGINT) AS len_red
      FROM red
      GROUP BY source
      ORDER BY source"""))

  // --------------------------------------------------------------- q115
  // Temperature-scaled source mixture weights — deriving the per-source
  // sampling distribution that q49's weighted mix CONSUMES. Proportional
  // sampling lets one dominant crawl swamp the mixture; uniform
  // over-samples tiny sources; the standard compromise samples source i
  // ∝ tokens_i^α with temperature α = 1/2 (multilingual-LM practice).
  // Exactness: the α=1/2 mass is floor(sqrt(tokens)) — IEEE sqrt is
  // correctly rounded and floor of it is exact — so masses are BIGINTs,
  // their total is an exact BIGINT sum, and each weight is ONE double
  // division of two exact integers: order- and partition-independent,
  // bit-identical across engines. epochs_i is the repeat factor source i
  // needs to fill its quota of a one-epoch total-token budget; its
  // operands stay exact integers (products evaluated in IEEE double —
  // deterministic in both engines even past 2^53).
  // Scale: one corpus scan → |sources| rows; the 1-row totals broadcast
  // back (the q37 scalar-join idiom). Nothing here is corpus-keyed.
  private val q115 = QueryDef(
    "q115_mixture_weights",
    (s, d) => {
      val perSrc = docs(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .withColumn("mass",
          floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      val tot = perSrc.agg(sum(col("mass")).as("tot_mass"),
        sum(col("n_tokens")).as("tot_tokens"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("mass"),
          round(col("mass").cast("double") / col("tot_mass").cast("double"),
            6).as("weight"),
          round((col("mass").cast("double") * col("tot_tokens").cast("double"))
            / (col("tot_mass").cast("double") * col("n_tokens").cast("double")),
            6).as("epochs"))
        .orderBy(col("source"))
    },
    Some("""
      WITH s AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      m AS (
        SELECT source, n_docs, n_tokens,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS mass
        FROM s),
      t AS (SELECT CAST(sum(mass) AS BIGINT) AS tot_mass,
                   CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM m)
      SELECT source, n_docs, n_tokens, mass,
             round(CAST(mass AS DOUBLE) / CAST(tot_mass AS DOUBLE), 6)
               AS weight,
             round((CAST(mass AS DOUBLE) * CAST(tot_tokens AS DOUBLE))
               / (CAST(tot_mass AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6)
               AS epochs
      FROM m, t
      ORDER BY source"""))

  // --------------------------------------------------------------- q117
  // Source capping: keep at most CapN docs per source — the curation step
  // that stops one dominant crawl from swamping the mixture (the blunt
  // sibling of q115's temperature reweighting). "Which" docs survive must
  // be deterministic and re-ingest-stable, so the kept set is the CapN
  // SMALLEST BY CONTENT HASH (md5, doc_id tie-break), not head(N).
  //
  // Scale design — the naive form is a skew trap: row_number over
  // Window.partitionBy(source) sorts an entire source in ONE task (the
  // q106 lesson). Instead, an exact two-phase cap:
  //   1. CALIBRATE: count docs per (source, b) where b = the first 3 hex
  //      digits of the hash (monotone in hash order, 4096 cells); the
  //      per-source running sum lives on a ≤ 4096·|sources| dictionary —
  //      each window partition is ≤ 4096 rows regardless of corpus size.
  //      b* = the smallest b whose running count reaches CapN (all-pass
  //      4095 for under-cap sources).
  //   2. PREFILTER + EXACT: broadcast the |sources|-row thresholds, keep
  //      rows with b ≤ b*, and run the exact rank window on the
  //      survivors — per source that is ≈ CapN + one boundary bucket
  //      (corpus/4096 of the source, deepen the prefix as sources grow),
  //      never the whole source.
  // The oracle states the naive single-window semantics; AnalyticsSpec
  // additionally pins two-phase ≡ naive on the real table, and PlanSpec
  // pins that the corpus-sized window input sits above the broadcast
  // threshold filter.
  private val CapN = 15

  private val q117 = QueryDef(
    "q117_source_cap",
    (s, d) => {
      val base = docs(s, d).select(col("source"), col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("b", conv(substring(col("h"), 1, 3), 16, 10).cast("long"))
      // phase 1: dictionary-sized calibration of the per-source cutoff
      val wCum = Window.partitionBy(col("source")).orderBy(col("b"))
      val thr = base.groupBy(col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .groupBy(col("source"))
        .agg(coalesce(min(when(col("cum") >= CapN, col("b"))), lit(4095L))
          .as("bstar"),
          sum(col("c")).as("n_docs"))
      // phase 2: broadcast prefilter, exact rank over ~CapN survivors
      val wRank = Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
      base.join(broadcast(thr), "source")
        .filter(col("b") <= col("bstar"))
        .withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= CapN)
        .groupBy(col("source"))
        .agg(max(col("n_docs")).as("n_docs"),
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("sum_kept_ids"),
          sum(col("n_tok")).as("tokens_kept"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH r AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(text), doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n_docs
        FROM documents)
      SELECT source,
             CAST(max(n_docs) AS BIGINT) AS n_docs,
             count(*) AS n_kept,
             CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids,
             CAST(sum(n_tok) AS BIGINT) AS tokens_kept
      FROM r
      WHERE rn <= $CapN
      GROUP BY source
      ORDER BY source"""))

  // --------------------------------------------------------------- q124
  // Changelog → SCD-Type-2 history build: treat `events` as a per-user
  // change stream and construct versioned validity intervals
  // [valid_from, valid_to) with lead(), plus the version number and the
  // is_current flag — the dimension-history / dataset-versioning operator
  // a warehouse runs on every CDC feed (MERGE-less: pure window algebra,
  // no table format required).
  // Determinism: (ts, event_id) is a total order per user, so lead() and
  // row_number() are partitioning-independent; `value` passes through
  // un-aggregated (exact).
  // Scale: ONE shuffle keyed by user_id; the sort is per-user (bounded —
  // no global sort). At 100 TB the same plan holds: key cardinality is
  // users, and AQE splits any hot user. Rebuilding history incrementally
  // = running this over (old tail ∪ new batch) per key, which the same
  // window expresses.
  private val q124 = QueryDef(
    "q124_scd2_intervals",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("ver", row_number().over(w).cast("long"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("ver"), col("ts").as("valid_from"),
          col("valid_to"), col("event_type"), col("value"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("user_id"), col("ver"))
    },
    Some("""
      SELECT user_id,
             CAST(row_number() OVER w AS BIGINT) AS ver,
             ts AS valid_from,
             lead(ts, 1) OVER w AS valid_to,
             event_type, value,
             (lead(ts, 1) OVER w IS NULL) AS is_current
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, ver"""))

  // --------------------------------------------------------------- q136
  // Exact-quota stratified sampling via largest-remainder allocation —
  // the eval-set construction q36's hash-Bernoulli split cannot do: hit
  // floor(N/10) TOTAL rows exactly, with per-stratum (source) quotas
  // floor(n_s/10) plus largest-remainder extras, and pick WHICH docs by
  // content-hash rank (deterministic, content-keyed — the q47 property:
  // re-running on a grown corpus never swaps an already-picked doc for
  // an equal-hash reason; ties broken by doc_id).
  // Scale: the allocation table is |strata| rows (a driver-free window
  // over a broadcast-sized frame); the pick is a per-stratum rank
  // window. The rank window sorts each stratum — the honest cost of
  // EXACT quotas at 100 TB; the cheap approximation (hash-threshold
  // pre-filter to ~quota + exact top-up over survivors) shrinks the
  // sorted set by 10× per decade of threshold margin and composes with
  // this same plan.
  private val q136 = QueryDef(
    "q136_exact_quota_sample",
    (s, d) => {
      val base = docs(s, d).select(col("source"), col("doc_id"),
        conv(substring(md5(col("text").cast("binary")), 1, 14), 16, 10)
          .cast("long").as("hk"))
      val strata = base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("base_q", expr("n_docs DIV 10"))
        .withColumn("rem", col("n_docs") % 10)
      val tot = strata.agg(sum(col("n_docs")).as("n_tot"),
        sum(col("base_q")).as("base_tot"))
      val wRem = Window.orderBy(col("rem").desc, col("source"))
      val quotas = strata.crossJoin(broadcast(tot))
        .withColumn("xr", row_number().over(wRem).cast("long"))
        .select(col("source"), col("n_docs"),
          (col("base_q") + when(
            col("xr") <= expr("n_tot DIV 10") - col("base_tot"), 1L)
            .otherwise(0L)).as("quota"))
      val wPick = Window.partitionBy(col("source"))
        .orderBy(col("hk"), col("doc_id"))
      base.withColumn("rk", row_number().over(wPick).cast("long"))
        .join(broadcast(quotas), Seq("source"))
        .filter(col("rk") <= col("quota"))
        .groupBy(col("source"), col("n_docs"), col("quota"))
        .agg(count(lit(1)).as("picked"),
          sum(col("doc_id")).as("picked_id_sum"))
        .orderBy(col("source"))
    },
    Some("""
      WITH base AS (
        SELECT source, doc_id,
               ('0x' || substr(md5(text), 1, 14))::BIGINT AS hk
        FROM documents),
      st AS (
        SELECT source, count(*) AS n_docs,
               count(*) // 10 AS base_q, count(*) % 10 AS rem
        FROM base GROUP BY source),
      tot AS (SELECT sum(n_docs) AS n_tot, sum(base_q) AS base_tot FROM st),
      quotas AS (
        SELECT source, n_docs,
               base_q + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                             <= (SELECT n_tot // 10 - base_tot FROM tot)
                        THEN 1 ELSE 0 END AS quota
        FROM st),
      ranked AS (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                                  ORDER BY hk, doc_id) AS rk
        FROM base)
      SELECT q.source, q.n_docs, CAST(q.quota AS BIGINT) AS quota,
             count(*) AS picked,
             CAST(sum(r.doc_id) AS BIGINT) AS picked_id_sum
      FROM ranked r JOIN quotas q ON q.source = r.source
      WHERE r.rk <= q.quota
      GROUP BY q.source, q.n_docs, q.quota
      ORDER BY q.source"""))

  // --------------------------------------------------------------- q139
  // Quality-percentile pruning: keep the top 30% of each source by the
  // q41 quality score — the FineWeb/DataComp-style "train on the best
  // slice" action that turns a quality SCORE into a quality FILTER.
  // "Which 30%" must be deterministic: quality desc, doc_id tie-break.
  //
  // Scale design — same trap as q117, different key: a per-source rank
  // window sorts whole sources. But the score lives on a BOUNDED integer
  // grid (round(quality, 6) ⇒ qint = round(quality·1e6), ≤ 1e6+1 values),
  // so the exact two-phase selection is:
  //   1. CALIBRATE on the (source, qint) histogram — dictionary-sized,
  //      corpus-independent: running count over qint DESC gives the
  //      crossing score q* where the cumulative count reaches the quota,
  //      plus how many docs sit strictly above q*.
  //   2. Broadcast (q*, need): docs with qint > q* are kept outright with
  //      NO window at all; only the one boundary-score bucket runs a
  //      doc_id rank to fill the remaining `need` slots.
  // The quota (3·n_s DIV 10) derives from the histogram, not a second
  // corpus scan. The oracle states the naive single-window semantics —
  // the hash match proves two-phase ≡ naive on the real table.
  private val q139 = QueryDef(
    "q139_quality_prune",
    (s, d) => {
      // empty docs (n_chars = 0) are excluded from the pruning universe
      // on BOTH sides: quality is their rank key, and a NULL key would
      // rank last in Spark but FIRST in DuckDB DESC — exclusion is the
      // only formulation with one cross-engine meaning (and ANSI would
      // throw on the /n_chars term anyway; DegenerateDataSpec)
      val base = docs(s, d).filter(col("n_chars") > 0L)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_stop",
          expr(s"size(filter(toks, w -> array_contains(${TextAnalysis.stopArr}, w)))")
            .cast("long"))
        .withColumn("n_punct",
          length(regexp_replace(col("text"), "[^.,!?;]", "")).cast("long"))
        .withColumn("quality", round(
          lit(1.0) -
            (col("n_stop").cast("double") / col("n_tok").cast("double")) * 0.5 -
            (col("n_punct").cast("double") / col("n_chars").cast("double")) * 0.5,
          6))
        .withColumn("qint", round(col("quality") * 1e6).cast("long"))
        .select(col("source"), col("doc_id"), col("quality"), col("qint"))
      // phase 1: dictionary-sized calibration of the per-source crossing
      val hist = base.groupBy(col("source"), col("qint"))
        .agg(count(lit(1)).as("c"))
      val nd = hist.groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"))
        .withColumn("quota", expr("(3 * n_docs) DIV 10"))
      val wCum = Window.partitionBy(col("source")).orderBy(col("qint").desc)
      val thr = hist.withColumn("cum", sum(col("c")).over(wCum))
        .join(broadcast(nd), "source")
        .filter(col("cum") >= col("quota"))
        .groupBy(col("source"))
        .agg(min(struct((-col("qint")).as("nq"),
          (col("cum") - col("c")).as("above"))).as("m"),
          max(col("n_docs")).as("n_docs"), max(col("quota")).as("quota"))
        .select(col("source"), (-col("m.nq")).as("qstar"),
          col("m.above").as("kept_above"), col("n_docs"), col("quota"))
        .withColumn("need", col("quota") - col("kept_above"))
      // phase 2: windowless keep above q*; rank ONLY the boundary bucket
      val en = base.join(broadcast(thr), "source")
      val cols = Seq("source", "doc_id", "quality", "n_docs", "quota")
        .map(col)
      val above = en.filter(col("qint") > col("qstar")).select(cols: _*)
      val wB = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val bnd = en.filter(col("qint") === col("qstar"))
        .withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= col("need"))
        .select(cols: _*)
      above.union(bnd)
        .groupBy(col("source"))
        .agg(max(col("n_docs")).as("n_docs"), max(col("quota")).as("quota"),
          count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids"),
          min(col("quality")).as("min_quality"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH q AS (
        SELECT source, doc_id,
               round(1.0
                 - (CAST(len(list_filter(toks, w -> list_contains(${TextAnalysis.stopList}, w))) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE)) * 0.5
                 - (CAST(length(regexp_replace(text, '[^.,!?;]', '', 'g')) AS DOUBLE)
                    / CAST(n_chars AS DOUBLE)) * 0.5, 6) AS quality
        FROM (SELECT source, doc_id, text, n_chars,
                     string_split(text, ' ') AS toks
              FROM documents WHERE n_chars > 0) t),
      r AS (
        SELECT source, doc_id, quality,
               row_number() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n_docs
        FROM q)
      SELECT source,
             CAST(max(n_docs) AS BIGINT) AS n_docs,
             CAST((3 * max(n_docs)) // 10 AS BIGINT) AS quota,
             count(*) AS n_kept,
             CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids,
             min(quality) AS min_quality
      FROM r
      WHERE rn <= (3 * n_docs) // 10
      GROUP BY source
      ORDER BY source"""))

  // --------------------------------------------------------------- q148
  // Systematic probability-proportional-to-size sampling — k = 5
  // customers per market segment, inclusion probability proportional to
  // account balance: the classic PPS design behind importance-weighted
  // corpus subsampling (sample documents ∝ quality weight) and survey
  // estimation, HERE in its fully deterministic systematic form. Rows are
  // laid out in content-hash order (md5(c_name), custkey — q47's
  // reingest-stable idiom, no rand()), weights are exact cents clamped to
  // ≥ 1, and a row is selected iff its cumulative-weight interval
  // (cum - w, cum] crosses a multiple of the stride W div k. Every
  // quantity is a BIGINT — selection is exact integer arithmetic, immune
  // to partitioning, rerun, and engine. A row heavier than the stride
  // crosses several multiples but is emitted once (true WOR semantics;
  // standard PPS caveat, detectable here as |result| < 5k).
  // Scale: one exchange on the segment key feeds the cumulative window.
  // The prefix sum is sampling's inherently sequential step and — unlike
  // q106's packing, whose bins renumber freely per shard — a systematic
  // sample is DEFINED by one global order per stratum, so the exact form
  // keeps one window partition per segment. At 100 TB the same plan holds
  // by raising the stratum count (shard each segment by hash, draw k/S
  // per shard — a stratified PPS with the same inclusion probabilities),
  // or by the two-phase distributed prefix sum (per-partition subtotals
  // broadcast as offsets) when the single-stratum form is required.
  private val q148 = QueryDef(
    "q148_pps_systematic_sample",
    (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("h"), col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wk = Tables.t(s, d, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_name"),
          md5(col("c_name").cast("binary")).as("h"),
          greatest(lit(1L),
            round(col("c_acctbal") * 100).cast("long")).as("wt"))
      val tot = wk.groupBy(col("c_mktsegment"))
        .agg((sum(col("wt")).cast("long")).as("tw"))
      wk.withColumn("cum", sum(col("wt")).over(w))
        .join(broadcast(tot), Seq("c_mktsegment"))
        .withColumn("stride", expr("tw div 5"))
        // stride = 0 (stratum weight < k): no systematic sample is
        // defined — the guard excludes the stratum, exactly as DuckDB's
        // NULL-yielding // 0 does (Spark ANSI DIV throws instead;
        // DegenerateDataSpec pins a 2-cent segment)
        .filter(expr("stride > 0 AND cum div stride > (cum - wt) div stride" +
          " and (cum - wt) div stride < 5"))
        .select(col("c_mktsegment"), col("c_custkey"), col("c_name"),
          col("wt"), col("cum"))
        .orderBy(col("c_mktsegment"), col("cum"))
    },
    Some("""
      WITH wk AS (
        SELECT c_mktsegment, c_custkey, c_name, md5(c_name) AS h,
               greatest(1, CAST(round(c_acctbal * 100) AS BIGINT)) AS wt
        FROM customer),
      cw AS (
        SELECT *,
               CAST(sum(wt) OVER (PARTITION BY c_mktsegment
                 ORDER BY h, c_custkey
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(sum(wt) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS tw
        FROM wk)
      SELECT c_mktsegment, c_custkey, c_name, wt, cum
      FROM cw
      WHERE tw // 5 > 0
        AND cum // (tw // 5) > (cum - wt) // (tw // 5)
        AND (cum - wt) // (tw // 5) < 5
      ORDER BY c_mktsegment, cum"""))

  // --------------------------------------------------------------- q238
  // Horvitz–Thompson estimation over the q148 PPS sample ([EXT]): the
  // estimator half of weighted sampling — q148 DRAWS 5 units per
  // segment with probability proportional to balance-cents weight; this
  // query reweights the drawn units by 1/π and shows the estimates land
  // on the population truths, closing the sample→estimate loop a
  // pipeline needs before it trusts sampled metrics. Two targets per
  // segment: the weighted total (where HT is exact by construction —
  // Σ wt/π = 5·stride = tw − tw mod 5, recovered on the 1e-6
  // quantization grid, so ht_cents lands within 5·wt·1e-6 of tw) and
  // the unit count N (where HT is a real estimate, shipped with its
  // achieved ratio).
  //
  // Determinism: 1/π = stride/wt is quantized to the 1e-6 grid by
  // integer division ((10⁶·stride) DIV wt, certainty units clamped at
  // 10⁶) BEFORE the 5-term sum, so the sum is an exact BIGINT and the
  // shipped doubles are single correctly-rounded divisions (q214
  // discipline — a raw double Σ stride/wt would be
  // summation-order-dependent). Scale: everything after q148's one
  // cumulative pass runs on the 5·|segments|-row sample with broadcast
  // per-segment totals.
  private val q238 = QueryDef(
    "q238_ht_estimate",
    (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("h"), col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wk = Tables.t(s, d, "customer")
        .select(col("c_mktsegment"), col("c_custkey"),
          md5(col("c_name").cast("binary")).as("h"),
          greatest(lit(1L),
            round(col("c_acctbal") * 100).cast("long")).as("wt"))
      val tot = wk.groupBy(col("c_mktsegment"))
        .agg(sum(col("wt")).cast("long").as("tw"),
          count(lit(1)).as("n_true"))
      val sample = wk.withColumn("cum", sum(col("wt")).over(w))
        .join(broadcast(tot), Seq("c_mktsegment"))
        .withColumn("stride", expr("tw DIV 5"))
        .filter(expr("stride > 0 AND cum DIV stride > (cum - wt) DIV stride" +
          " AND (cum - wt) DIV stride < 5")) // stride guard: q148's
      sample
        .withColumn("invp_q",
          greatest(lit(1000000L), expr("(1000000 * stride) DIV wt")))
        .groupBy(col("c_mktsegment"), col("tw"), col("n_true"))
        .agg(count(lit(1)).as("n_sample"),
          sum(col("invp_q")).as("sn"),
          sum(col("wt") * col("invp_q")).as("sc"))
        .select(col("c_mktsegment"), col("n_true"), col("tw"),
          col("n_sample"),
          (col("sn").cast("double") / lit(1e6)).as("ht_n"),
          (col("sc").cast("double") / lit(1e6)).as("ht_cents"),
          ((col("sn").cast("double") / lit(1e6))
            / col("n_true").cast("double")).as("n_ratio"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      WITH wk AS (
        SELECT c_mktsegment, c_custkey, md5(c_name) AS h,
               greatest(1, CAST(round(c_acctbal * 100) AS BIGINT)) AS wt
        FROM customer),
      tot AS (
        SELECT c_mktsegment, CAST(sum(wt) AS BIGINT) AS tw,
               count(*) AS n_true
        FROM wk GROUP BY 1),
      cw AS (
        SELECT wk.*, tot.tw, tot.n_true, tot.tw // 5 AS stride,
               CAST(sum(wt) OVER (PARTITION BY wk.c_mktsegment
                 ORDER BY h, c_custkey
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM wk JOIN tot ON wk.c_mktsegment = tot.c_mktsegment),
      smp AS (
        SELECT *, greatest(1000000, (1000000 * stride) // wt) AS invp_q
        FROM cw
        WHERE stride > 0
          AND cum // stride > (cum - wt) // stride
          AND (cum - wt) // stride < 5)
      SELECT c_mktsegment, n_true, tw, count(*) AS n_sample,
             CAST(sum(invp_q) AS DOUBLE) / 1e6 AS ht_n,
             CAST(sum(wt * invp_q) AS DOUBLE) / 1e6 AS ht_cents,
             (CAST(sum(invp_q) AS DOUBLE) / 1e6) / CAST(n_true AS DOUBLE)
               AS n_ratio
      FROM smp
      GROUP BY c_mktsegment, n_true, tw
      ORDER BY c_mktsegment"""))

  // --------------------------------------------------------------- q192
  // Bloom-prefiltered decontamination — the 100 TB form of q105/q112's
  // asymmetric membership. q112 broadcasts the eval gram set as an EXACT
  // hash relation: at real eval-suite scale (~1e8 distinct 5-grams ×
  // ~40-byte strings) that is a multi-GB build side per executor. The
  // scale path is Spark's own runtime-row-filter mechanism, surfaced
  // here as an operator: aggregate the eval grams into a
  // `BloomFilterAggregate` sketch (fixed size: 1.44·n·log2(1/p) bits ≈
  // 120 MB at n=1e8, p=1% — independent of string length), insert it
  // once via an uncorrelated scalar subquery, and probe the corpus gram
  // stream with the codegen'd `BloomFilterMightContain` (k ≈ 7 bit
  // tests per gram, inside the scan's WholeStageCodegen projection — no
  // exchange, no build side). Bloom filters have NO false negatives, so
  // chasing the survivors (true hits + ~p of the stream) with the exact
  // semi-join q112 runs makes the prefilter LOSSLESS: the result is
  // bit-identical to the exact formulation for every p, which is why a
  // plain-SQL DuckDB oracle can hash-check a sketch-accelerated plan.
  // FunctionsSpec pins the no-false-negative property and measures the
  // false-positive rate against the sketch's configured bound.
  // Output: the leakage report — every contaminated training doc with
  // how many distinct eval grams it leaks.
  private val q192 = QueryDef(
    "q192_bloom_decontamination",
    (s, d) => {
      graft.GraftExtensions.register(s)
      docs(s, d).createOrReplaceTempView("v_docs192")
      fiveGramsOf(docs(s, d)).createOrReplaceTempView("v_grams192")
      s.sql("""
        WITH ev AS (
          SELECT DISTINCT ng FROM v_grams192 WHERE doc_id % 97 = 3),
        pass AS (
          SELECT g.doc_id, g.ng
          FROM v_grams192 g
          WHERE g.doc_id % 97 <> 3
            AND bloom_contains(
                  (SELECT bloom_agg(xxhash64(ng), CAST(100000 AS BIGINT))
                   FROM ev),
                  xxhash64(g.ng))),
        hits AS (
          SELECT p.doc_id, count(DISTINCT p.ng) AS n_eval_grams
          FROM pass p JOIN ev ON p.ng = ev.ng
          GROUP BY p.doc_id)
        SELECT d.doc_id, d.source, h.n_eval_grams
        FROM hits h JOIN v_docs192 d ON d.doc_id = h.doc_id
        ORDER BY d.doc_id""")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id, unnest(CASE WHEN len(toks) >= 5
               THEN list_transform(range(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+4], ' '))
               ELSE [] END) AS ng
        FROM t),
      ev AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 3),
      hits AS (
        SELECT g.doc_id, count(DISTINCT g.ng) AS n_eval_grams
        FROM g JOIN ev USING (ng)
        WHERE g.doc_id % 97 <> 3
        GROUP BY g.doc_id)
      SELECT d.doc_id, d.source, h.n_eval_grams
      FROM hits h
      JOIN documents d ON d.doc_id = h.doc_id
      ORDER BY d.doc_id"""))

  // --------------------------------------------------------------- q218
  // Weighted sampling without replacement, Efraimidis–Spirakis A-ES
  // ([EXT]): per language, draw k=10 documents with inclusion probability
  // ∝ n_chars by ranking on key = ln(u)/w (monotone-equivalent to the
  // paper's u^(1/w)) and keeping the top k — the distributed-native
  // weighted reservoir: no sequential reservoir state, just a per-group
  // top-k. Complements q36 (stratified), q136 (exact quota) and q148
  // (PPS systematic): A-ES is the one that gives exact
  // without-replacement ∝-size semantics from a PURE per-row priority.
  //
  // Determinism: u is a content-seeded 52-bit uniform (md5, the q47
  // idiom), so the sample is reproducible across engines and reingests —
  // u/2^52 is EXACT (power-of-two divide), ln rounds at 1e-12 before the
  // correctly-rounded divide by the exact integer weight (q23/q214
  // transcendental discipline). Ties cannot occur (distinct 52-bit u);
  // doc_id breaks them anyway.
  //
  // Scale: the rank ≤ k filter compiles to WindowGroupLimit (PlanSpec
  // pins this shape on q175/q128), which keeps a k-row heap PER MAP
  // PARTITION before the lang exchange — the shuffle carries ≤ k·P rows,
  // so few-language skew never concentrates a corpus partition in one
  // task. This is why A-ES beats "sort by priority, take k per group" at
  // 100 TB: selection pushes down; a full sort would not.
  private val q218 = QueryDef(
    "q218_weighted_sample",
    (s, d) => {
      // weight-0 docs (n_chars = 0) have zero inclusion probability in
      // A-ES (key → −∞) and are excluded up front on BOTH sides: left
      // in, Spark ANSI throws on /0 and DuckDB's NULL key would rank
      // FIRST under DESC — i.e. wrongly drawn (DegenerateDataSpec)
      val base = docs(s, d).filter(col("n_chars") > 0L)
        .select(col("doc_id"), col("lang"),
        col("n_chars"),
        (conv(substring(md5(concat(lit("es"), col("doc_id").cast("string"))
          .cast("binary")), 1, 13), 16, 10).cast("long") + 1L).as("u52"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("key").desc, col("doc_id"))
      base
        .withColumn("lnu", round(
          log(col("u52").cast("double") / lit(4.503599627370496e15)), 12))
        .withColumn("key", col("lnu") / col("n_chars").cast("double"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"),
          Num.roundZ(col("key"), 10).as("priority"))
        .orderBy(col("lang"), col("rk"))
    },
    Some("""
      WITH base AS (
        SELECT doc_id, lang, n_chars,
               (('0x' || substr(md5('es' || CAST(doc_id AS VARCHAR)),
                 1, 13))::BIGINT + 1) AS u52
        FROM documents WHERE n_chars > 0),
      k AS (
        SELECT doc_id, lang, n_chars,
               round(ln(CAST(u52 AS DOUBLE) / 4503599627370496.0), 12) /
                 CAST(n_chars AS DOUBLE) AS key
        FROM base),
      r AS (
        SELECT lang, doc_id, n_chars, key,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY key DESC, doc_id) AS rk
        FROM k)
      SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_chars,
             (CAST(round((key) * 1e10) AS BIGINT) / 1e10) AS priority
      FROM r
      WHERE rk <= 10
      ORDER BY lang, rk"""))

  // --------------------------------------------------------------- q229
  // Cross-source quantile normalization ([EXT]): map every source's
  // token-count distribution onto the POOLED corpus distribution — the
  // batch-effect correction that makes per-source quality thresholds
  // comparable (a verbose source's "short" is another's "median"; after
  // normalization one global cutoff means the same thing everywhere).
  // For a doc with score v in source s: mapped(v) = min{ w : pooled
  // CDF(w) ≥ source-s CDF(v) } — classic quantile matching.
  //
  // The CDF comparison is EXACT: F_w·n_s ≥ F_sv·N cross-multiplies the
  // two rational CDFs into BIGINT products, so no float quantile ever
  // exists and the mapping is bit-stable at any parallelism. Scale: the
  // corpus collapses to (source, score) / (score) count tables — both
  // bounded by the SCORE GRID (token counts), not by rows; the pooled
  // grid BROADCASTS into a ≥-join + min aggregate (a grid×grid product,
  // dictionary-sized). Output: the per-(source, score) mapping table a
  // normalizing pass would broadcast-join back onto the corpus.
  private val q229 = QueryDef(
    "q229_quantile_normalize",
    (s, d) => {
      val scored = docs(s, d).select(col("source"),
        size(split(col("text"), " ")).cast("long").as("v"))
      val sv = scored.groupBy(col("source"), col("v"))
        .agg(count(lit(1)).as("c"))
      val wS = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wSAll = Window.partitionBy(col("source"))
      val sCum = sv.withColumn("f_sv", sum(col("c")).over(wS))
        .withColumn("n_s", sum(col("c")).over(wSAll))
      val pv = scored.groupBy(col("v")).agg(count(lit(1)).as("cp"))
      val wP = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wPAll = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val pCum = pv.withColumn("f_w", sum(col("cp")).over(wP))
        .withColumn("n", sum(col("cp")).over(wPAll))
        .select(col("v").as("w"), col("f_w"), col("n"))
      sCum.join(broadcast(pCum),
          col("f_w") * col("n_s") >= col("f_sv") * col("n"))
        .groupBy(col("source"), col("v"), col("c"), col("f_sv"), col("n_s"))
        .agg(min(col("w")).as("mapped"))
        .select(col("source"), col("v"), col("c"), col("mapped"),
          (col("mapped") - col("v")).as("shift"))
        .orderBy(col("source"), col("v"))
    },
    Some("""
      WITH scored AS (
        SELECT source, CAST(len(str_split(text, ' ')) AS BIGINT) AS v
        FROM documents),
      sv AS (
        SELECT source, v, count(*) AS c FROM scored GROUP BY 1, 2),
      scum AS (
        SELECT source, v, c,
               sum(c) OVER (PARTITION BY source ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS f_sv,
               sum(c) OVER (PARTITION BY source) AS n_s
        FROM sv),
      pv AS (SELECT v, count(*) AS cp FROM scored GROUP BY 1),
      pcum AS (
        SELECT v AS w,
               sum(cp) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f_w,
               sum(cp) OVER () AS n
        FROM pv)
      SELECT s.source, s.v, s.c, min(p.w) AS mapped,
             CAST(min(p.w) - s.v AS BIGINT) AS shift
      FROM scum s JOIN pcum p ON p.f_w * s.n_s >= s.f_sv * p.n
      GROUP BY s.source, s.v, s.c
      ORDER BY s.source, s.v"""))

  // --------------------------------------------------------------- q312
  // Corpus-composition diversity audit ([EXT]) — Simpson concentration
  // and its reciprocal, the EFFECTIVE NUMBER of sources, per language:
  // the "is my training mix secretly one source" check run beside
  // q115's mixture weights and q49's corpus mix. Simpson λ = Σ pᵢ² is
  // the probability two random docs share a source; 1/λ is the
  // equivalent count of equally-sized sources (the ecology/economics
  // Herfindahl–Hirschman inverse); Berger–Parker is the single largest
  // source's share. All three are pure count ratios — no logs — which
  // is what makes them exactly auditable cross-engine (the Shannon
  // variant is not, by the no-libm house rule).
  //
  // Scale: ONE hash aggregate to the (lang, source) grid; everything
  // after is grid arithmetic. λ's numerator Σ nᵢ² and n² are exact
  // BIGINTs (n ≤ 2³¹ holds to ~sf10⁵ for Σnᵢ²).
  private val q312 = QueryDef(
    "q312_source_diversity",
    (s, d) => {
      val g = docs(s, d).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("ni"))
      g.groupBy(col("lang"))
        .agg(sum(col("ni")).as("n_docs"),
          count(lit(1)).as("n_sources"),
          sum(col("ni") * col("ni")).as("s2"),
          max(col("ni")).as("nmax"))
        .select(col("lang"), col("n_docs"), col("n_sources"),
          Num.roundZ(col("s2").cast("double")
            / (col("n_docs") * col("n_docs")).cast("double"), 6)
            .as("simpson"),
          Num.roundZ((col("n_docs") * col("n_docs")).cast("double")
            / col("s2").cast("double"), 6).as("eff_sources"),
          Num.roundZ(col("nmax").cast("double")
            / col("n_docs").cast("double"), 6).as("berger_parker"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH g AS (
        SELECT lang, source, count(*) AS ni
        FROM documents GROUP BY 1, 2)
      SELECT lang, CAST(sum(ni) AS BIGINT) AS n_docs,
             count(*) AS n_sources,
             (CAST(round(CAST(sum(ni * ni) AS DOUBLE)
               / CAST(sum(ni) * sum(ni) AS DOUBLE) * 1e6) AS BIGINT) / 1e6)
               AS simpson,
             (CAST(round(CAST(sum(ni) * sum(ni) AS DOUBLE)
               / CAST(sum(ni * ni) AS DOUBLE) * 1e6) AS BIGINT) / 1e6)
               AS eff_sources,
             (CAST(round(CAST(max(ni) AS DOUBLE)
               / CAST(sum(ni) AS DOUBLE) * 1e6) AS BIGINT) / 1e6)
               AS berger_parker
      FROM g
      GROUP BY lang
      ORDER BY lang"""))

  // --------------------------------------------------------------- q361
  // Token-balanced training shards ([EXT]): assign every document to one
  // of K shards so shard TOKEN masses come out near-equal — the physical
  // layout pass between curation and training (uniform doc-count splits
  // like q47 leave token skew; stragglers on the fattest shard gate every
  // epoch). Deterministic near-LPT scheme: rank documents by token count
  // descending (ties by doc_id) and deal round-robin by rank — the
  // classic longest-processing-time heuristic's distributed cousin, with
  // a worst-case shard spread bounded by ONE max-size document.
  //
  // Scale: the size rank is corpus-scale, so it does NOT use a global
  // window — Scale.rangePrefixSum with value = 1 is exactly a distributed
  // dense rank (range-partition + local prefix counts + partition-count
  // offsets; q303's machinery, PlanSpec-pinned there). Everything after
  // is a K-row grid aggregate. Exactness: counts are BIGINTs; the only
  // division is each shard's load ratio vs the ideal B/K, shipped as one
  // correctly-rounded division of exact integers.
  private val ShardK = 8
  private val q361 = QueryDef(
    "q361_balanced_shards",
    (s, d) => {
      val sized = docs(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val ranked = graft.Scale.rangePrefixSum(sized,
        Seq(col("n_tok").desc, col("doc_id").asc), lit(1L), "rk")
      val shards = ranked
        .withColumn("shard", (col("rk") - 1L) % ShardK)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      val tot = shards.agg(sum(col("n_tokens")).as("tt"))
      shards.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          Num.roundZ(col("n_tokens").cast("double") * ShardK.toDouble
            / col("tt").cast("double"), 6).as("load_vs_ideal"))
        .orderBy(col("shard"))
    },
    Some(s"""
      WITH sized AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      ranked AS (
        SELECT doc_id, n_tok,
               row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rk
        FROM sized),
      shards AS (
        SELECT (rk - 1) % $ShardK AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM ranked GROUP BY 1),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM shards)
      SELECT shard, n_docs, n_tokens,
             (CAST(round((CAST(n_tokens AS DOUBLE) * $ShardK.0
               / CAST(tt AS DOUBLE)) * 1e6) AS BIGINT) / 1e6)
               AS load_vs_ideal
      FROM shards, tot
      ORDER BY shard"""))

  // --------------------------------------------------------------- q362
  // Exact token-budget apportionment ([EXT]): given a training budget of
  // B tokens, split it across (lang, source) cells proportionally to
  // their token mass using Hamilton's largest-remainder method — the
  // apportionment that is exactly proportional in integers (Σ quota = B
  // by construction, every cell within 1 token of its real share).
  // Division of labor vs q115 (mixture WEIGHTS): q115 computes the
  // α-temperature sampling weights; this turns a share into an integer
  // token ALLOCATION a downloader/sampler can execute verbatim.
  //
  // Exactness is the whole point: quota = (mass·B) DIV T and remainder =
  // (mass·B) % T are exact BIGINTs; the B − Σ quota leftover tokens go
  // to the largest remainders (ties to lang/source order) — no float
  // ever forms. Overflow envelope: mass·B ≤ T·B needs T·B < 2⁶³ — at
  // B = 10⁶ that is T < 9·10¹² corpus tokens (~36 TB of text); beyond
  // that, DIV-scale the masses first (the HitsScale knob). Scale: ONE
  // corpus aggregate onto the (lang, source) grid; the remainder rank is
  // a grid window.
  private val BudgetB = 1000000L
  private val q362 = QueryDef(
    "q362_token_apportionment",
    (s, d) => {
      val cells = docs(s, d)
        .select(col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n"))
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("n")).as("mass"))
      val tot = cells.agg(sum(col("mass")).as("t"))
      val base = cells.crossJoin(broadcast(tot))
        .withColumn("quota", expr(s"(mass * ${BudgetB}L) DIV t"))
        .withColumn("rem", expr(s"(mass * ${BudgetB}L) % t"))
      val short = base.agg((lit(BudgetB) - sum(col("quota"))).as("left"))
      val wR = Window.orderBy(col("rem").desc, col("lang"), col("source"))
      base.crossJoin(broadcast(short))
        .withColumn("rr", row_number().over(wR).cast("long"))
        .select(col("lang"), col("source"), col("mass"), col("quota"),
          col("rem"),
          (col("quota") + when(col("rr") <= col("left"), 1L).otherwise(0L))
            .as("alloc_tokens"))
        .orderBy(col("lang"), col("source"))
    },
    Some(s"""
      WITH cells AS (
        SELECT lang, source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS mass
        FROM documents GROUP BY 1, 2),
      tot AS (SELECT CAST(sum(mass) AS BIGINT) AS t FROM cells),
      base AS (
        SELECT lang, source, mass,
               CAST((mass * $BudgetB) // t AS BIGINT) AS quota,
               CAST((mass * $BudgetB) % t AS BIGINT) AS rem
        FROM cells, tot),
      short AS (SELECT $BudgetB - CAST(sum(quota) AS BIGINT) AS leftn
                FROM base),
      rk AS (
        SELECT lang, source, mass, quota, rem,
               row_number() OVER (ORDER BY rem DESC, lang, source) AS rr
        FROM base)
      SELECT rk.lang, rk.source, rk.mass, rk.quota, rk.rem,
             CAST(rk.quota + CASE WHEN rk.rr <= short.leftn THEN 1 ELSE 0
               END AS BIGINT) AS alloc_tokens
      FROM rk, short
      ORDER BY rk.lang, rk.source"""))

  // --------------------------------------------------------------- q366
  // DSIR data selection ([EXT], Xie et al. 2023 "Data Selection for
  // Language Models via Importance Resampling") — the published
  // target-aware selection method, completing the curation shelf's
  // division of labor: q115 sets mixture weights ACROSS sources, q147/
  // q327 score fluency under ONE corpus LM; DSIR scores every raw doc
  // by how much more likely a TARGET distribution makes it than the
  // raw pool, log w(d) = Σ features [ln p_target(f) − ln p_raw(f)],
  // then keeps the top share by weight. Faithful shape: hashed BIGRAM
  // features (the paper's hashed n-grams; unigrams are blind here —
  // the synthetic corpus shares one 31-word vocabulary across langs,
  // so the signal lives in co-occurrence FREQUENCIES, same physics as
  // q44's lang-ID), Laplace-smoothed bucket LMs, per-doc LENGTH-
  // NORMALIZED log weight, target = the `en` slice. Selection is the
  // top 25% by weight via an exact percentile on the QUANTIZED-weight
  // value grid (wq ties admit their whole tie class — documented,
  // deterministic). The per-lang report reads the method's success
  // directly: en's selection rate should dominate the other langs'.
  //
  // Scale: two corpus passes (bucket counts; per-doc scoring) — the
  // bucket LM table is FIXED at ≤ 4096 rows, broadcast back onto the
  // token stream; bigram features are INTRA-ROW array probes (q364's
  // no-window lesson — the lead() form shuffled the token stream at
  // 5.6× bytes read, this form at 0.05×), so the only exchange is the
  // per-doc partial aggregate. The
  // percentile runs on the collapsed wq grid (bounded by the weight
  // RANGE / 1e-6, never the corpus — the q102/q108 two-phase
  // discipline). Exactness: counts are exact BIGINTs; each bucket's
  // log-ratio is ONE ln of a quotient of exact-integer products
  // (identical doubles both engines; products ≤ tokens·tokens — at
  // true 100 TB grain DIV-scale the counts first, the q334 envelope),
  // quantized to 1e-9 BIGINTs; per-doc weights are exact-int sums
  // divided once, quantized to 1e-6 before every downstream compare.
  private val q366 = QueryDef(
    "q366_dsir_selection",
    (s, d) => {
      val bgr = docs(s, d)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), col("lang"), col("tk"),
          explode(expr("sequence(1, size(tk) - 1)")).as("i"))
        .select(col("doc_id"), col("lang"), expr(
          "CAST(conv(substr(md5(concat('ds:', element_at(tk, i), ' ', " +
            "element_at(tk, i + 1))), 1, 14), 16, 10) AS BIGINT) % 4096")
          .as("b"))
      val cs = bgr.groupBy(col("b")).agg(count(lit(1)).as("ns"))
      val ct = bgr.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("nt"))
      val tots = bgr.agg(count(lit(1)).as("s"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t"))
      val lr = cs.join(ct, Seq("b"), "left")
        .crossJoin(broadcast(tots))
        .select(col("b"), round(log(
          ((coalesce(col("nt"), lit(0L)) + 1L) * (col("s") + 4096L))
            .cast("double")
            / ((col("ns") + 1L) * (col("t") + 4096L)).cast("double"))
          * lit(1e9)).cast("long").as("lr"))
      val perdoc = bgr.join(broadcast(lr), Seq("b"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("lr")).as("slr"), count(lit(1)).as("n"))
        .select(col("lang"), round(col("slr").cast("double")
          / (col("n").cast("double") * lit(1e9)) * lit(1e6))
          .cast("long").as("wq"))
      val nAll = perdoc.agg(count(lit(1)).as("n_all"))
      val wCum = Window.orderBy(col("wq").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val thr = perdoc.groupBy(col("wq")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .crossJoin(broadcast(nAll))
        .filter(col("cum") * 4L >= col("n_all"))
        .agg(max(col("wq")).as("thr"))
      perdoc.crossJoin(broadcast(thr))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("wq") >= col("thr"), 1L).otherwise(0L))
            .as("n_selected"),
          sum(col("wq")).as("swq"), max(col("thr")).as("thr"))
        .select(col("lang"), col("n_docs"), col("n_selected"),
          Num.roundZ(col("n_selected").cast("double")
            / col("n_docs").cast("double"), 6).as("sel_rate"),
          Num.roundZ(col("swq").cast("double")
            / (col("n_docs").cast("double") * lit(1e6)), 6).as("mean_w"),
          (col("thr").cast("double") / lit(1e6)).as("thr_w"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, lang, w, pos,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w,
                     generate_subscripts(string_split(text, ' '), 1) AS pos
              FROM documents)),
      bgr AS (
        SELECT doc_id, lang,
               (('0x' || substr(md5('ds:' || w || ' ' || w2), 1, 14))
                 ::BIGINT) % 4096 AS b
        FROM tok WHERE w2 IS NOT NULL),
      cs AS (SELECT b, CAST(count(*) AS BIGINT) AS ns FROM bgr GROUP BY 1),
      ct AS (SELECT b, CAST(count(*) AS BIGINT) AS nt FROM bgr
             WHERE lang = 'en' GROUP BY 1),
      tots AS (
        SELECT CAST(count(*) AS BIGINT) AS s,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                 AS t
        FROM bgr),
      lr AS (
        SELECT cs.b,
               CAST(round(ln(CAST((coalesce(ct.nt, 0) + 1) * (tots.s + 4096)
                   AS DOUBLE)
                 / CAST((cs.ns + 1) * (tots.t + 4096) AS DOUBLE)) * 1e9)
                 AS BIGINT) AS lr
        FROM cs LEFT JOIN ct ON ct.b = cs.b, tots),
      perdoc AS (
        SELECT g.doc_id, g.lang,
               CAST(round((CAST(sum(lr.lr) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 1e9)) * 1e6) AS BIGINT) AS wq
        FROM bgr g JOIN lr ON lr.b = g.b
        GROUP BY g.doc_id, g.lang),
      nall AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM perdoc),
      thr AS (
        SELECT CAST(max(wq) AS BIGINT) AS thr FROM (
          SELECT wq, sum(c) OVER (ORDER BY wq DESC
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM (SELECT wq, CAST(count(*) AS BIGINT) AS c
                FROM perdoc GROUP BY 1)) g, nall
        WHERE g.cum * 4 >= nall.n_all)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN wq >= thr.thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_selected,
             (CAST(round((CAST(sum(CASE WHEN wq >= thr.thr THEN 1 ELSE 0
               END) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT)
               / 1e6) AS sel_rate,
             (CAST(round((CAST(sum(wq) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * 1e6)) * 1e6) AS BIGINT) / 1e6)
               AS mean_w,
             (CAST(max(thr.thr) AS DOUBLE) / 1e6) AS thr_w
      FROM perdoc, thr
      GROUP BY lang
      ORDER BY lang"""))

  val defs: Seq[QueryDef] =
    Seq(q36, q47, q48, q49, q104, q105, q106, q112, q113, q114, q115, q117,
      q124, q136, q139, q148, q192, q218, q229, q238, q285, q295, q300,
      q312, q361, q362, q366)
}
