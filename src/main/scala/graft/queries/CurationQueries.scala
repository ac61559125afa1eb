package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{IndexCache, Tables}
import graft.operators.Curation
import graft.text.{Analysis, TextOps}

/** The composite corpus-curation funnel (langid → quality gates →
  * exact dedup keep-first → token budgeting) as one oracle-checked
  * query — proving the individually-verified text/dedup operators
  * compose into the actual pre-training pipeline with identical
  * results end to end.
  */
object CurationQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "c01_curate_corpus" -> ((s, d) =>
      Curation.curate(Tables.documents(s, d), "doc_id", "text",
        keepLang = "en", minTokens = 20, minTtr = 0.35)),

    // Relative quality gate: keep each language's top 75% of docs by
    // type-token ratio (percent_rank ≥ 0.25 — a distribution cut, not
    // the absolute threshold c01 uses). percent_rank is rank-derived,
    // so ties resolve identically in any engine, and the per-language
    // window sort parallelizes across languages. At 100 TB with few
    // distinct languages prefer the two-pass form: per-lang
    // approx_percentile threshold (q17's sketch), broadcast, filter —
    // constant memory, no global per-lang sort.
    "c02_quality_gate" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"lang", TextOps.tokenize($"text").as("__toks"))
        .select($"doc_id", $"lang",
          Analysis.typeTokenRatio($"__toks").as("ttr"))
        .withColumn("pr", percent_rank().over(
          Window.partitionBy($"lang").orderBy($"ttr")))
        .filter($"pr" >= 0.25)
        .select($"doc_id", $"lang", $"ttr")
    }),

    // Incremental upsert: a deterministic synthetic change batch
    // (v1 updates incl. tombstones at doc_id%21, v2 updates at
    // doc_id%14 that override v1 — incl. resurrecting the %42
    // tombstones — and inserts at doc_id%13 shifted past the id
    // space) merged into the documents snapshot. Base rows are only
    // touched by a broadcast anti join — no snapshot shuffle.
    "c03_incremental_upsert" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.select(col("doc_id"), col("source"), col("n_chars"))
      val v1 = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit("delta").as("source"),
          (col("n_chars") + 1000).as("n_chars"), lit(1L).as("version"),
          (col("doc_id") % 21 === 0).as("is_delete"))
      val v2 = docs.filter(col("doc_id") % 14 === 0)
        .select(col("doc_id"), lit("delta2").as("source"),
          (col("n_chars") + 2000).as("n_chars"), lit(2L).as("version"),
          lit(false).as("is_delete"))
      val ins = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit("new").as("source"), col("n_chars"), lit(1L).as("version"),
          lit(false).as("is_delete"))
      Curation.upsert(base, v1.unionByName(v2).unionByName(ins),
        "doc_id", "version", "is_delete")
    }),

    // Corpus-composition report — the planning dashboard a mixture
    // designer reads: per (source, lang), per source, and grand
    // total: docs, whitespace tokens, mean lexical diversity, exact-
    // duplicate count (docs minus distinct fingerprints). One
    // grouping-sets pass over the per-row signals; the lattice
    // reuses one shuffle.
    "c04_composition_report" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"source", $"lang",
          TextOps.tokenize($"text").as("__toks"),
          Analysis.fingerprint($"text").as("fp"))
        .select($"source", $"lang", $"fp",
          Analysis.tokenCount($"__toks").as("n_tokens"),
          // per-row ttr is already on the 6-dp grid, so ×1e6 sits
          // within ~1e-10 of an integer and floor(+0.5) is exact in
          // any engine; the mean is then integer-sum ÷ count ÷ 1e6 —
          // two IEEE divisions on exact integers, bit-identical
          // cross-engine, where round(avg(double), 6) flips on
          // exact .5e-6 boundaries (seen on sf0.01's src15/de)
          floor(Analysis.typeTokenRatio($"__toks") * 1e6 + 0.5)
            .cast("long").as("ttr_micro"))
        .groupingSets(
          Seq(Seq($"source", $"lang"), Seq($"source"), Seq.empty),
          $"source", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").cast("long").as("total_tokens"),
          (sum($"ttr_micro").cast("double") / count(lit(1)) / 1e6)
            .as("mean_ttr"),
          (count(lit(1)) - countDistinct($"fp")).as("n_exact_dups"))
        .select(coalesce($"source", lit("(all)")).as("source"),
          coalesce($"lang", lit("(all)")).as("lang"),
          $"n_docs", $"total_tokens", $"mean_ttr", $"n_exact_dups")
    }),

    // JSONL sink → source round trip: a corpus slice is written as
    // newline-delimited JSON (the interchange format web-scrape
    // pipelines actually land), read back with an EXPLICIT schema
    // (inference would cost a second full scan at 100 TB), and
    // reduced to per-source counts + char totals + a 52-bit md5 row
    // checksum covering every column. The oracle computes the same
    // aggregate straight from parquet, so ANY field the JSON codec
    // mangles (type, escaping, null handling, column order) breaks
    // the hash. Slice bounded at 500 docs — constant work per sf.
    "c05_jsonl_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val out = s"/tmp/graft_c05_${Integer.toHexString(d.hashCode)}"
      Tables.documents(s, d).filter(col("doc_id") < 500)
        .write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(conv(substring(md5(concat_ws("|", col("doc_id"),
              col("text"), col("lang"), col("n_chars"))), 1, 13), 16, 10)
            .cast("long")).as("row_hash"))
    }),

    // SCD2 history build: a deterministic change log (every doc has a
    // v1; every third doc a later v2; every ninth a still-later v3 —
    // effective times derived from doc_id, so (key, ts) is unique by
    // construction) turned into validity intervals. Where c03 keeps
    // latest state only, this keeps every state with the interval it
    // held — the table an as-of join (aj01) probes. One shuffle of
    // the log, lead() per key, no joins, snapshot never touched.
    "c06_scd2_history" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val v1 = docs.select(col("doc_id"), col("source"), col("n_chars"),
        (col("doc_id") * 10).as("eff_ts"))
      val v2 = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit("rev1").as("source"),
          (col("n_chars") + 1).as("n_chars"),
          (col("doc_id") * 10 + 3).as("eff_ts"))
      val v3 = docs.filter(col("doc_id") % 9 === 0)
        .select(col("doc_id"), lit("rev2").as("source"),
          (col("n_chars") + 2).as("n_chars"),
          (col("doc_id") * 10 + 7).as("eff_ts"))
      Curation.scd2(v1.unionByName(v2).unionByName(v3),
          "doc_id", "eff_ts")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("valid_from"), col("valid_to"), col("is_current"))
    }),

    // Schema evolution at the scan: two pipeline epochs wrote the
    // same directory with different schemas (the early batch lacks
    // `lang` and `quality`), and ONE mergeSchema read reconciles them
    // — missing columns surface as nulls, never as a crash or a
    // silent drop. At 100 TB with years of batches this is how old
    // data stays readable without a petabyte rewrite; the oracle
    // builds the same union with explicit NULLs from the raw table,
    // so a column the merge mistypes or misaligns breaks the hash.
    "c07_schema_evolution" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = IndexCache.newIndexDir("graft-c07-") + "/docs"
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.parquet(s"$base/batch=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("lang"), (col("n_chars") % 100).as("quality"))
        .write.parquet(s"$base/batch=2")
      s.read.option("mergeSchema", "true").parquet(base)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          count(col("lang")).as("n_with_lang"),
          sum(col("quality")).as("sum_quality"))
    }),

    // Snapshot diff — the corpus-versioning audit between two
    // pipeline epochs: which docs were added, removed, or changed
    // (content fingerprint moved). Epochs derive deterministically
    // from the one table (prev drops id%7=3; cur drops id%5=2 and
    // revises id%3=0), diff is ONE full-outer join of (pk, md5) —
    // fingerprints shuffle, text never does, and unchanged rows are
    // dropped so the output is churn-sized, not corpus-sized. At
    // 100 TB write both snapshot manifests bucketed by pk (bk01's
    // layout) and the diff plans with no Exchange at all.
    "c08_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val prev = docs.filter(col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), md5(col("text")).as("old_fp"))
      val cur = docs.filter(col("doc_id") % 5 =!= 2)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" rev")))
            .otherwise(col("text"))).as("new_fp"))
      Curation.snapshotDiff(prev, cur, "doc_id")
    }),

    // Incremental aggregate maintenance — the materialized-rollup
    // pattern a 100 TB pipeline lives on: epoch 1's per-source rollup
    // is PERSISTED (counts, sums, and an HLL fingerprint sketch as
    // binary state), epoch 2 contributes only ITS delta, and the
    // serving rollup merges the two WITHOUT rescanning epoch 1.
    // count/sum merge by addition; count-distinct is the textbook
    // non-mergeable aggregate, which is exactly why the sketch column
    // exists (Spark's DataSketches HLL state unions losslessly across
    // persistence). The oracle recomputes the rollup from the FULL
    // table — equality proves the merge path reproduces the
    // full-recompute semantics; est_ok (the q17 band discipline)
    // proves the sketch estimate survived write → read → union within
    // 5% of the exact distinct.
    // In-pass ingest telemetry via Dataset.observe (CollectMetrics):
    // the QA numbers every 100 TB ingest must produce — row count,
    // byte volume, bad-field count, id range — computed DURING the
    // write pass, not by a second scan (at 100 TB the re-scan IS the
    // cost; observe's accumulator-backed metrics are free). The
    // ingest writes to parquet with the metrics riding the same job;
    // the gate face returns the observed values as a one-row frame
    // so the TELEMETRY ITSELF is DuckDB-hash-verified. Eager like
    // contiguousIds (the ingest action runs at call time) — the
    // observation is only defined after the pass.
    "c13_observed_ingest" -> ((s, d) => {
      val obs = new org.apache.spark.sql.Observation()
      val dir = IndexCache.newIndexDir("graft-c13-") + "/ingest"
      // ISOLATED session for the observed pass: Observation registers
      // itself in the session's ObservationManager and (Spark 4.1
      // classic) is never unregistered — a registered observation
      // makes the SESSION unserializable (NotSerializableException:
      // ObservationManager) for any LATER job that captures it in a
      // task closure (spark.ml trainings do), which sporadically
      // killed m01/m05 in full gate runs. newSession() shares the
      // SparkContext but owns its manager, so the registration dies
      // with the clone and the shared session stays closure-clean.
      val iso = s.newSession()
      Tables.documents(iso, d)
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"),
          count(when(col("lang").isNull || col("lang") === "", lit(1)))
            .as("n_bad_lang"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .write.parquet(dir)
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_chars").asInstanceOf[Long],
        m("n_bad_lang").asInstanceOf[Long],
        m("min_id").asInstanceOf[Long],
        m("max_id").asInstanceOf[Long]))
        .toDF("n_rows", "sum_chars", "n_bad_lang", "min_id", "max_id")
    }),

    "c09_incremental_rollup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = IndexCache.newIndexDir("graft-c09-") + "/rollup"
      def rollup(f: DataFrame) =
        Curation.sketchRollup(f, "source", "n_chars", md5(col("text")))
      rollup(docs.filter(col("doc_id") >= 100)).write.parquet(dir)
      val merged = Curation.mergeRollups(
        s.read.parquet(dir)
          .unionByName(rollup(docs.filter(col("doc_id") < 100))),
        "source")
      val exact = docs.groupBy(col("source"))
        .agg(countDistinct(md5(col("text"))).as("n_distinct_fp"))
      merged.join(exact, "source")
        .select(col("source"), col("n_docs"), col("sum_chars"),
          col("n_distinct_fp"),
          (abs(col("est") - col("n_distinct_fp")) <=
            lit(0.05) * col("n_distinct_fp")).as("est_ok"))
    }),

    // Malformed-record quarantine at JSONL ingest: every 7th line is
    // planted truncated mid-string (an unterminated JSON object — the
    // classic partial-write corruption); `from_json` + required-field
    // probe routes each line to ok/quarantined WITHOUT failing the
    // job, quarantined lines keep their raw text for forensics, and
    // nothing is silently dropped (row count preserved — the oracle
    // states the expected routing per line, so a parser that eats or
    // mis-routes a record breaks the hash). The ingest face every
    // 100 TB pipeline needs: one bad shard must cost one quarantine
    // bucket, not the batch.
    "c10_quarantine_ingest" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val docs = Tables.documents(s, d)
      val lines = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 3,
          concat(lit("{\"id\":"), col("doc_id"),
            lit(",\"lang\":\""), col("lang")))
          .otherwise(to_json(struct(col("doc_id").as("id"),
            col("lang"), col("n_chars")))).as("raw"))
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      lines.withColumn("j", from_json(col("raw"), schema))
        .select(col("doc_id"),
          when(col("j")("id").isNull, "quarantined").otherwise("ok")
            .as("status"),
          col("j")("lang").as("lang"),
          col("j")("n_chars").as("n_chars"),
          when(col("j")("id").isNull, col("raw")).as("raw_kept"))
    }),

    // Referential-integrity audit — the warehouse health check every
    // ingest runs before publishing a snapshot: orphan fact rows per
    // FK edge, as (edge, n_orphans, n_missing_keys). The customer dim
    // is PRUNED by construction (c_custkey % 10 = 3 dropped — the
    // late-arriving-dimension scenario), so the orders edge reports
    // real planted orphans while the lineitem→orders edge proves the
    // clean case stays zero. Anti-join per edge with NO broadcast
    // hint — Spark's size estimate broadcasts the pruned dim at
    // fixture scale, and at 100 TB a billion-row dim flips to a
    // shuffled anti-join on the FK by the same size threshold; a
    // hardcoded hint would force-broadcast the large dim and is
    // exactly what must NOT ship.
    "c12_fk_orphans" -> ((s, d) => {
      import s.implicits._
      val prunedCust = Tables.customer(s, d)
        .filter($"c_custkey" % 10 =!= 3).select($"c_custkey")
      val e1 = Tables.orders(s, d)
        .join(prunedCust, $"o_custkey" === $"c_custkey",
          "left_anti")
        .agg(count(lit(1)).as("n_orphans"),
          countDistinct($"o_custkey").as("n_missing_keys"))
        .select(lit("orders->customer_pruned").as("fk"), $"n_orphans",
          $"n_missing_keys")
      val e2 = Tables.lineitem(s, d).select($"l_orderkey")
        .join(Tables.orders(s, d).select($"o_orderkey"),
          $"l_orderkey" === $"o_orderkey", "left_anti")
        .agg(count(lit(1)).as("n_orphans"),
          countDistinct($"l_orderkey").as("n_missing_keys"))
        .select(lit("lineitem->orders").as("fk"), $"n_orphans",
          $"n_missing_keys")
      e1.unionAll(e2)
    }),

    // Contiguous 0-based ids in global (n_chars, doc_id) order —
    // curriculum-style short-first numbering — through the
    // range-bucketed two-pass shape (operators/Ids.scala): boundary
    // literals from a quantile sketch, per-bucket counts to offsets,
    // and a bucket-PARTITIONED window; never `row_number() OVER
    // (ORDER BY …)` on the whole corpus (the oracle runs exactly
    // that single-partition form — correct for DuckDB, fatal at
    // 100 TB; the ids must agree for ANY boundary placement).
    "c11_contiguous_ids" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
      graft.operators.Ids.contiguousIds(docs, "n_chars",
        Seq("doc_id"), 8)
        .select(col("doc_id"), col("n_chars"), col("uid"))
    })
  )

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => "'" + x.replace("'", "''") + "'").mkString("[", ", ", "]")

  private val tokSql =
    "list_filter(string_split(text, ' '), w -> len(w) > 0)"

  /** langid CTE body — same marker sets / priority tie-break as
    * [[Analysis.langId]] (mirrors TextQueries' t04 oracle). */
  private val langCase: String = {
    val names = Analysis.LangMarkers.map(_._1)
    val best = names.map(l => s"h_$l").mkString("greatest(", ", ", ")")
    val cases = names
      .map(l => s"WHEN h_$l = $best AND h_$l > 0 THEN '$l'")
      .mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  private val hitCols: String = Analysis.LangMarkers
    .map { case (l, ms) =>
      s"len(list_filter(toks, t -> list_contains(${sqlList(ms)}, t))) AS h_$l"
    }
    .mkString(", ")

  val oracleSql: Map[String, String] = Map(
    // straight from parquet — if the JSON round trip loses anything,
    // the row hashes diverge
    "c05_jsonl_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS total_chars,
            CAST(sum(CAST(('0x' || substring(md5(concat_ws('|',
              doc_id, text, lang, n_chars)), 1, 13)) AS BIGINT))
              AS BIGINT) AS row_hash
          FROM documents WHERE doc_id < 500 GROUP BY source""",
    "c02_quality_gate" ->
      s"""WITH t AS (
            SELECT doc_id, lang,
                   CASE WHEN len($tokSql) > 0
                     THEN round(CAST(len(list_distinct($tokSql)) AS DOUBLE)
                          / CAST(len($tokSql) AS DOUBLE), 6)
                     ELSE 0.0 END AS ttr
            FROM documents),
          r AS (
            SELECT doc_id, lang, ttr, percent_rank() OVER (
              PARTITION BY lang ORDER BY ttr) AS pr
            FROM t)
          SELECT doc_id, lang, ttr FROM r WHERE pr >= 0.25""",
    "c01_curate_corpus" ->
      s"""WITH t AS (
            SELECT doc_id, text, $tokSql AS toks FROM documents),
          hits AS (
            SELECT doc_id, text, toks, $hitCols FROM t),
          scored AS (
            SELECT doc_id,
                   $langCase AS lang_pred,
                   CAST(len(toks) AS INTEGER) AS n_tokens,
                   CASE WHEN len(toks) > 0
                     THEN round(CAST(len(list_distinct(toks)) AS DOUBLE)
                          / CAST(len(toks) AS DOUBLE), 6)
                     ELSE 0.0 END AS ttr,
                   CAST(len(regexp_extract_all(text,
                     '${Analysis.BpeIshRe.replace("'", "''")}'))
                     AS INTEGER) AS bpe_tokens,
                   md5(text) AS fp
            FROM hits),
          kept AS (
            SELECT * FROM scored
            WHERE lang_pred = 'en' AND n_tokens >= 20 AND ttr >= 0.35)
          SELECT doc_id, lang_pred, n_tokens, ttr, bpe_tokens, fp
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY fp ORDER BY doc_id) AS rk FROM kept)
          WHERE rk = 1""",
    "c03_incremental_upsert" ->
      s"""WITH delta AS (
            SELECT doc_id, 'delta' AS source, n_chars + 1000 AS n_chars,
                   1 AS version, (doc_id % 21 = 0) AS is_delete
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id, 'delta2', n_chars + 2000, 2, false
            FROM documents WHERE doc_id % 14 = 0
            UNION ALL
            SELECT doc_id + 1000000, 'new', n_chars, 1, false
            FROM documents WHERE doc_id % 13 = 0),
          latest AS (
            SELECT doc_id, source, n_chars, is_delete
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY version DESC) AS rk
                  FROM delta)
            WHERE rk = 1)
          SELECT b.doc_id, b.source, b.n_chars
          FROM documents b LEFT JOIN latest l ON b.doc_id = l.doc_id
          WHERE l.doc_id IS NULL
          UNION ALL
          SELECT doc_id, source, n_chars FROM latest
          WHERE NOT is_delete""",
    "c04_composition_report" ->
      s"""WITH t AS (
            SELECT source, lang, md5(text) AS fp,
                   CAST(len($tokSql) AS INTEGER) AS n_tokens,
                   CAST(floor((CASE WHEN len($tokSql) > 0
                     THEN round(CAST(len(list_distinct($tokSql)) AS DOUBLE)
                          / CAST(len($tokSql) AS DOUBLE), 6)
                     ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT) AS ttr_micro
            FROM documents)
          SELECT coalesce(source, '(all)') AS source,
                 coalesce(lang, '(all)') AS lang,
                 count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                 CAST(sum(ttr_micro) AS DOUBLE) / count(*) / 1e6
                   AS mean_ttr,
                 count(*) - count(DISTINCT fp) AS n_exact_dups
          FROM t
          GROUP BY GROUPING SETS ((source, lang), (source), ())""",
    "c06_scd2_history" ->
      """WITH chg AS (
            SELECT doc_id, source, n_chars, doc_id * 10 AS eff_ts
            FROM documents
            UNION ALL
            SELECT doc_id, 'rev1', n_chars + 1, doc_id * 10 + 3
            FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id, 'rev2', n_chars + 2, doc_id * 10 + 7
            FROM documents WHERE doc_id % 9 = 0)
          SELECT doc_id, source, n_chars,
                 eff_ts AS valid_from,
                 lead(eff_ts) OVER (PARTITION BY doc_id
                   ORDER BY eff_ts) AS valid_to,
                 (lead(eff_ts) OVER (PARTITION BY doc_id
                   ORDER BY eff_ts) IS NULL) AS is_current
          FROM chg""",
    "c07_schema_evolution" ->
      """WITH merged AS (
            SELECT doc_id, source, n_chars,
                   CAST(NULL AS VARCHAR) AS lang,
                   CAST(NULL AS BIGINT) AS quality
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, source, n_chars, lang, n_chars % 100
            FROM documents WHERE doc_id % 2 = 1)
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 count(lang) AS n_with_lang,
                 CAST(sum(quality) AS BIGINT) AS sum_quality
          FROM merged GROUP BY source""",
    // c08: identical epoch derivations; full-outer on pk, unchanged
    // rows excluded — md5 fingerprints are engine-portable
    "c08_snapshot_diff" ->
      """WITH prev AS (
            SELECT doc_id, md5(text) AS old_fp
            FROM documents WHERE doc_id % 7 <> 3),
          cur AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 3 = 0 THEN text || ' rev'
                       ELSE text END) AS new_fp
            FROM documents WHERE doc_id % 5 <> 2)
          SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id,
                 CASE WHEN prev.doc_id IS NULL THEN 'added'
                      WHEN cur.doc_id IS NULL THEN 'removed'
                      ELSE 'changed' END AS status,
                 old_fp, new_fp
          FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
          WHERE prev.doc_id IS NULL OR cur.doc_id IS NULL
             OR old_fp <> new_fp""",
    // c13: the observed metrics recomputed declaratively — the
    // telemetry must equal what a full second scan would say
    "c13_observed_ingest" ->
      """SELECT count(*) AS n_rows,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                CAST(count(CASE WHEN lang IS NULL OR lang = ''
                  THEN 1 END) AS BIGINT) AS n_bad_lang,
                CAST(min(doc_id) AS BIGINT) AS min_id,
                CAST(max(doc_id) AS BIGINT) AS max_id
         FROM documents""",
    // c09: the oracle is the FULL recompute — counts/sums must agree
    // with the engine's persisted-base + delta merge exactly, and the
    // sketch-estimate band flag is asserted TRUE (q17 discipline: a
    // drifting estimate breaks the gate, not just a spec)
    "c09_incremental_rollup" ->
      """SELECT source,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                CAST(count(DISTINCT md5(text)) AS BIGINT)
                  AS n_distinct_fp,
                TRUE AS est_ok
         FROM documents GROUP BY source""",
    // c10: the oracle states the expected per-line routing — planted
    // id%7=3 truncations quarantine with their raw text, everything
    // else parses back to its source fields, and the row count is the
    // table's (nothing eaten)
    "c10_quarantine_ingest" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 7 = 3 THEN 'quarantined'
                     ELSE 'ok' END AS status,
                CASE WHEN doc_id % 7 = 3 THEN NULL
                     ELSE lang END AS lang,
                CASE WHEN doc_id % 7 = 3 THEN NULL
                     ELSE n_chars END AS n_chars,
                CASE WHEN doc_id % 7 = 3
                     THEN '{"id":' || doc_id || ',"lang":"' || lang
                     ELSE NULL END AS raw_kept
         FROM documents""",
    // c11: the oracle IS the single-partition global window the
    // engine-side two-pass shape must reproduce bucket-for-bucket
    "c11_contiguous_ids" ->
      """SELECT doc_id, n_chars,
                row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS uid
         FROM documents""",
    // c12: planted orphans on the pruned-dim edge, zeros on the clean
    // edge — a broken anti-join cannot produce either
    "c12_fk_orphans" ->
      """SELECT 'orders->customer_pruned' AS fk,
                count(*) AS n_orphans,
                CAST(count(DISTINCT o_custkey) AS BIGINT)
                  AS n_missing_keys
         FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                 WHERE c_custkey % 10 <> 3)
         UNION ALL
         SELECT 'lineitem->orders' AS fk,
                count(*) AS n_orphans,
                CAST(count(DISTINCT l_orderkey) AS BIGINT)
                  AS n_missing_keys
         FROM lineitem
         WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)"""
  )
}
