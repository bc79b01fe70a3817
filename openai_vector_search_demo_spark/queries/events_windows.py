# Split from the single-file registry (r14); see _shared for the
# registry, decorator, and parity conventions.
from __future__ import annotations

from openai_vector_search_demo_spark.queries._shared import *  # noqa: F401,F403
from openai_vector_search_demo_spark.queries.text_analysis import _SQL_FINGERPRINT  # noqa: F401

# Time-window aggregations over events (streaming extension, batch form —
# streaming equivalence is pytest-checked in tests/test_streaming.py)
# ---------------------------------------------------------------------------

@query("events_tumbling_window", oracle="""
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value,
       ROUND(AVG(value), 6) AS avg_value
FROM events
GROUP BY 1, 2
""")
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows over the event stream table: count/sum/avg per (window, type); window start exported as epoch-us for timezone-proof oracle parity."""
    from openai_vector_search_demo_spark.operators.windows import tumbling_counts
    return tumbling_counts(t(spark, sf_dir, "events"), "1 hour")


@query("events_sliding_window", oracle="""
WITH e AS (SELECT epoch_us(time_bucket(INTERVAL '30 minutes', ts)) AS b,
                  event_type, value
           FROM events),
x AS (SELECT b AS ws, event_type, value FROM e
      UNION ALL
      SELECT b - 1800000000, event_type, value FROM e)
SELECT ws AS window_start_us, event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value
FROM x GROUP BY 1, 2
""")
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h windows sliding by 30m — every event in exactly two windows; the
    oracle materializes both membership copies explicitly."""
    from openai_vector_search_demo_spark.operators.windows import sliding_counts
    return sliding_counts(t(spark, sf_dir, "events"), "1 hour", "30 minutes")


@query("events_session_window", oracle="""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS grp
      FROM o)
SELECT epoch_us(MIN(ts)) AS session_start_us, user_id,
       COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value
FROM g GROUP BY user_id, grp
""")
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 5-minute inactivity gap.  The oracle is the
    classic gap-island rewrite (lag → break flags → running sum) — checking
    Spark's native session_window against first principles."""
    from openai_vector_search_demo_spark.operators.windows import session_windows
    return session_windows(t(spark, sf_dir, "events"), "5 minutes")


_TUMBLING_ORACLE = """
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value,
       ROUND(AVG(value), 6) AS avg_value
FROM events
GROUP BY 1, 2
"""

_STREAM_SEQ = iter(range(1, 1 << 30))


@query("streaming_tumbling_counts", oracle=_TUMBLING_ORACLE)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregation executed as a real Structured
    Streaming job (file source → watermark → window agg → memory sink,
    availableNow) — then hash-checked against the SAME DuckDB oracle as the
    batch form.  Streaming execution mode, batch-grade correctness."""
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_tumbling_counts,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    name = f"stream_tumbling_{next(_STREAM_SEQ)}"
    try:
        # Schema comes from a batch read of the SAME path — never hardcoded.
        # A hardcoded "ts long" once misread a regenerated timestamp[us]
        # fixture as raw micros treated as nanos: correct schema, no error,
        # timestamps compressed 1000x, silently wrong windows.
        raw_batch = _read_events_raw(spark, sf_dir)
        ts_us = _events_ts_us(raw_batch)  # unbound exprs; reusable on stream
        stream = (spark.readStream.schema(raw_batch.schema)
                  .format("parquet").option("pathGlobFilter", "events.parquet")
                  .load(sf_dir)
                  .withColumn("ts", F.timestamp_micros(ts_us)))
        q = (stream_tumbling_counts(stream, "1 hour", watermark="100 days")
             .writeStream.format("memory").queryName(name)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination(300)
        # materialize off the memory sink, then drop it — a uniquely-named
        # sink table per run would otherwise leak for the session lifetime
        out = spark.table(name).localCheckpoint(eager=True)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        spark.catalog.dropTempView(name)
    return out


@query("streaming_dedup", oracle=f"""
SELECT DISTINCT {_SQL_FINGERPRINT} AS fingerprint FROM documents
""")
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup executed as a real Structured Streaming job
    (file source → in-stream duplication of every 3rd document → stateful
    ``dropDuplicates`` on the text fingerprint → memory sink,
    availableNow), value-checked against the batch DISTINCT-fingerprint
    set: every injected duplicate must collapse and nothing else may.
    The output projects the fingerprint alone because WHICH copy survives
    a collapse is encounter-order-dependent — the fingerprint is the
    deterministic identity of the collapsed group."""
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_dedup_documents,
    )
    name = f"stream_dedup_{next(_STREAM_SEQ)}"
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (spark.readStream.schema(batch.schema).format("parquet")
              .option("pathGlobFilter", "documents.parquet").load(sf_dir))
    dup = (stream.withColumn(
               "_copy", F.explode(F.when(F.col("doc_id") % 3 == 0,
                                         F.array(F.lit(1), F.lit(2)))
                                  .otherwise(F.array(F.lit(1)))))
           .drop("_copy"))
    try:
        q = (stream_dedup_documents(dup).select("fingerprint")
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        out = spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)
    return out


@query("streaming_interval_join", oracle="""
WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE event_type = 'click'),
p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'purchase')
SELECT c.user_id AS first_user, c.event_id AS first_id,
       p.event_id AS second_id,
       c.ts_us AS first_ts_us, p.ts_us AS second_ts_us
FROM c JOIN p ON p.user_id = c.user_id
             AND p.ts_us > c.ts_us
             AND p.ts_us <= c.ts_us + 3600000000
""")
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream interval join executed as a real Structured
    Streaming job (two watermarked sides + event-time range — the state-
    bounding requirements) and hash-checked against a DuckDB batch oracle
    of the same join: every click paired with that user's purchases within
    the next hour.  availableNow execution over fixed input is
    deterministic, so streaming execution gets batch-grade correctness —
    the mechanism ``streaming_tumbling_counts`` already proves for
    aggregation, extended here to dual-stream state (VERDICT r6 #5)."""
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_event_followup_join,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    name = f"stream_interval_{next(_STREAM_SEQ)}"
    try:
        # schema from a batch read of the same path (never hardcoded — see
        # streaming_tumbling_counts for the silent-misread failure mode)
        raw_batch = _read_events_raw(spark, sf_dir)
        ts_us = _events_ts_us(raw_batch)
        stream = (spark.readStream.schema(raw_batch.schema)
                  .format("parquet").option("pathGlobFilter", "events.parquet")
                  .load(sf_dir)
                  .withColumn("ts", F.timestamp_micros(ts_us)))
        q = (stream_event_followup_join(
                stream.filter(F.col("event_type") == "click"),
                stream.filter(F.col("event_type") == "purchase"),
                within="1 hour", watermark="100 days")
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        out = (spark.table(name)
               .select("first_user", "first_id", "second_id",
                       F.unix_micros("first_ts").alias("first_ts_us"),
                       F.unix_micros("second_ts").alias("second_ts_us"))
               .localCheckpoint(eager=True))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        spark.catalog.dropTempView(name)
    return out


def _doc_crack_oracle() -> str:
    """The cracker's expected output, pinned as literals.

    The inputs are fully deterministic (two in-test documents built from
    fixed bytes + the reference's own 15-page sample PDF), so the exact
    (doc, page_no, length, md5) of every extracted page is known ahead of
    time — the driver's gate hash-checks the binary extraction itself
    instead of only counting rows.  The fake/docx rows are hand-derivable
    (tests/test_sources_catalog_multimodal.py re-derives them with hashlib
    from the input strings); the PDF rows pin the extractor's verified
    output on the reference's fixed sample document.
    """
    rows = [
        ("a.fake", 0, 16, "bd436e132f4ec7a4ca24add9fdabe932"),
        ("a.fake", 1, 13, "b26de41e35dac5c578997223164ae491"),
        ("b.docx", 0, 38, "238b31a5ef8e54cd432cf67a24e88841"),
        ("c.pdf", 0, 465, "2a62b4c03ee14b5bcb634e4b4b527fc7"),
        ("c.pdf", 1, 331, "2afabc73da31ef49a056ca08c8931c95"),
        ("c.pdf", 2, 1252, "1ee1d93df60643214a50117f715b3fbd"),
        ("c.pdf", 3, 812, "a7fa206a889c404fc877e67b1175459f"),
        ("c.pdf", 4, 1343, "f0aa8330266e2e0415119206f464957d"),
        ("c.pdf", 5, 786, "4442514b4348939894ea8b11fbd3f1bc"),
        ("c.pdf", 6, 873, "bf30bc095ed98daed74c66c36a2605ad"),
        ("c.pdf", 7, 967, "1ea4982abfd581d2f6748f0ce4e47c3d"),
        ("c.pdf", 8, 963, "103de796e100ad676409c84c0e71b5c8"),
        ("c.pdf", 9, 825, "7e376cfed3af24e2a3b270aa0b17eaa4"),
        ("c.pdf", 10, 487, "5e5b85117c61932ae6c422c9d2760f76"),
        ("c.pdf", 11, 732, "7fa7562e031c4e52f86435436f6238ed"),
        ("c.pdf", 12, 1422, "f2281b4cf2be54f01e28f0b885715979"),
        ("c.pdf", 13, 874, "2af7a5d0b52d9dae64fcfb332e2c8f32"),
        ("c.pdf", 14, 631, "7daf7b026c3bd9c77c74483629402df9"),
    ]
    vals = ", ".join(f"('{d}', {p}, {n}, '{h}')" for d, p, n, h in rows)
    return (f"SELECT doc, page_no, n_chars, text_md5 "
            f"FROM (VALUES {vals}) AS t(doc, page_no, n_chars, text_md5) "
            f"ORDER BY doc, page_no")


@query("s1_s2_doc_crack", oracle=_doc_crack_oracle())
def s1_s2_doc_crack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2/S3 — binaryFile scan → extension dispatch → page extraction →
    the ordinary ingest pipeline.  Inputs are deterministic in-test documents
    (a form-feed fake, a real stdlib-built DOCX, and the reference's own
    15-page sample PDF through the engine's dependency-free extractor);
    output is the per-page (basename, page_no, length, md5-of-text) —
    path-free and byte-deterministic, so the driver value-checks the binary
    extraction against the pinned VALUES oracle.  The record `id` column is
    excluded by design: it keys on the absolute doc_path, which lives in a
    per-run temp directory.  A missing sample PDF raises
    ``FileNotFoundError``: the oracle pins its 15 pages, and serving the
    other 3 rows alone would be a silent short answer.
    """
    import shutil
    import tempfile
    from pathlib import Path

    from openai_vector_search_demo_spark.plans.pipeline import crack_and_ingest
    from openai_vector_search_demo_spark.sources.doc_crack import (
        FAKE_PAGE_SEP,
        make_docx,
        read_raw,
    )

    d = Path(tempfile.mkdtemp(prefix="doc_crack_q_"))
    (d / "a.fake").write_bytes(
        b"alpha beta gamma" + FAKE_PAGE_SEP + b"delta epsilon")
    (d / "b.docx").write_bytes(make_docx(
        ["one paragraph of text", "and a second one"]))
    sample = Path("/root/reference/sample_docs/"
                  "Easy_recipes_Boston_University.pdf")
    if not sample.exists():  # S1 runs on the reference's own document
        raise FileNotFoundError(
            f"s1_s2_doc_crack needs the reference sample PDF at {sample}")
    shutil.copy(sample, d / "c.pdf")
    chunks = crack_and_ingest(read_raw(spark, str(d)))
    return (chunks.select(
                F.element_at(F.split("doc_path", "/"), -1).alias("doc"),
                "page_no",
                F.length("page_content").alias("n_chars"),
                F.md5(F.col("page_content")).alias("text_md5"))
            .orderBy("doc", "page_no"))


_FLAGSHIP_Q = "how does a hash join work on a spark table"

_FLAGSHIP_ORACLE = r"""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
chunks AS (
  SELECT doc_id, source, CAST(i AS INTEGER) AS page_no,
         array_to_string(list_slice(words, i*300 + 1, i*300 + 300), ' ') AS chunk
  FROM w, UNNEST(range(0, len(words)//300 + 1)) AS u(i)),
cl AS (SELECT *, regexp_replace(regexp_replace(chunk, '\n', ' ', 'g'), '  ', ' ', 'g') AS cleansed
       FROM chunks),
kept AS (SELECT * FROM cl WHERE cleansed IS NOT NULL AND length(cleansed) > 0),
ex AS (SELECT doc_id, source, page_no, chunk, unnest(
         list_filter(regexp_split_to_array(lower(cleansed), '\s+'), x -> x != '')) AS tk
       FROM kept),
hx AS (SELECT doc_id, source, page_no, chunk,
              CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS h
       FROM ex),
acc AS (SELECT doc_id, source, page_no, chunk, h % 64 AS b,
               CAST(SUM(CASE WHEN (h >> 59) & 1 = 0 THEN 1 ELSE -1 END) AS DOUBLE) AS s
        FROM hx GROUP BY ALL),
norms AS (SELECT doc_id, source, page_no, chunk, sqrt(SUM(s*s)) AS nrm
          FROM acc GROUP BY ALL),
grid AS (SELECT n.doc_id, n.source, n.page_no, n.chunk, n.nrm, r.b AS b
         FROM norms n CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r
         WHERE n.nrm > 0),
dense AS (SELECT g.doc_id, g.source, g.page_no, g.chunk,
                 list(CAST(CAST(COALESCE(a.s, 0) / g.nrm AS REAL) AS DOUBLE) ORDER BY g.b) AS v
          FROM grid g
          LEFT JOIN acc a ON a.doc_id = g.doc_id AND a.source = g.source
                         AND a.page_no = g.page_no AND a.b = g.b
          GROUP BY ALL),
qex AS (SELECT unnest(list_filter(regexp_split_to_array(lower('{Q}'), '\s+'), x -> x != '')) AS tk),
qhx AS (SELECT CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS h FROM qex),
qacc AS (SELECT h % 64 AS b, CAST(SUM(CASE WHEN (h >> 59) & 1 = 0 THEN 1 ELSE -1 END) AS DOUBLE) AS s
         FROM qhx GROUP BY 1),
qnorm AS (SELECT sqrt(SUM(s*s)) AS nrm FROM qacc),
qdense AS (SELECT list(CAST(CAST(COALESCE(a.s, 0) / q.nrm AS REAL) AS DOUBLE) ORDER BY r.b) AS qv
           FROM (SELECT unnest(range(0, 64)) AS b) r
           CROSS JOIN qnorm q
           LEFT JOIN qacc a ON a.b = r.b
           GROUP BY ALL),
scored AS (
  SELECT d.doc_id, d.source, d.page_no, d.chunk,
    list_aggregate(list_transform(range(1, 65), i -> (d.v)[i] * (q.qv)[i]), 'sum')
    / (sqrt(list_aggregate(list_transform(d.v, x -> x*x), 'sum'))
     * sqrt(list_aggregate(list_transform(q.qv, x -> x*x), 'sum'))) AS sim
  FROM dense d CROSS JOIN qdense q),
knn AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, source ASC, page_no ASC) AS INTEGER) - 1 AS retrieval_idx
        FROM scored ORDER BY sim DESC, source ASC, page_no ASC LIMIT 10),
rr AS (SELECT *,
         substr(chunk, 1, 160) AS answer,
         CAST(CAST(('0x' || substr(md5('{Q}' || ':' || chunk), 1, 6)) AS BIGINT) % 101 AS INTEGER) AS score
       FROM knn)
SELECT answer AS "Answer", score AS "Score", chunk AS "Content", source AS "Source",
       ROUND(sim, 6) AS "Similarity", page_no + 1 AS "Page"
FROM (SELECT * FROM rr ORDER BY score DESC, retrieval_idx DESC, answer DESC LIMIT 10)
WHERE score >= 50
""".replace("{Q}", _FLAGSHIP_Q)


def _flagship_pipeline(spark: SparkSession, sf_dir: str,
                       embedder=None) -> DataFrame:
    """Shared §3.1 + §3.2 body — embedder pluggable so the same oracled
    dataflow verifies both the local model and the RemoteEmbedder slot."""
    from pyspark.sql import Window

    from openai_vector_search_demo_spark.embedding.embedder import (
        embed_text,
        embed_udf,
    )
    from openai_vector_search_demo_spark.functions.text import cleanse_text, non_empty
    from openai_vector_search_demo_spark.functions.vectors import (
        cosine_similarity,
        vector_lit,
    )
    from openai_vector_search_demo_spark.operators.chunking import chunk_documents
    from openai_vector_search_demo_spark.operators.rerank import (
        deterministic_scorer,
        rerank_order,
    )

    from openai_vector_search_demo_spark.plans.pipeline import spread_for_python

    docs = spread_for_python(
        t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    chunked = chunk_documents(docs, text_col="text", chunk_col="page_content")
    kept = (chunked.withColumn("_cleansed", cleanse_text("page_content"))
            .filter(non_empty(F.col("_cleansed"))))
    embedded = (kept.withColumn("embedding",
                                embed_udf(embedder)(F.col("_cleansed")))
                .filter(F.col("embedding").isNotNull()))
    qvec = embed_text(_FLAGSHIP_Q)
    scored = embedded.withColumn(
        "sim", cosine_similarity(F.col("embedding"), vector_lit(qvec)))
    knn_order = [F.col("sim").desc(), F.col("source").asc(), F.col("page_no").asc()]
    hits = (scored.orderBy(*knn_order).limit(10)
            .withColumn("retrieval_idx",
                        F.row_number().over(Window.orderBy(*knn_order)) - 1))
    rr = deterministic_scorer(_FLAGSHIP_Q, hits, content_col="page_content")
    out = (rr.orderBy(*rerank_order(rr)).limit(10)
           .filter(F.col("score") >= 50)
           .select(F.col("answer").alias("Answer"),
                   F.col("score").alias("Score"),
                   F.col("page_content").alias("Content"),
                   F.col("source").alias("Source"),
                   F.round("sim", 6).alias("Similarity"),
                   (F.col("page_no") + 1).alias("Page")))
    return out


@query("flagship_search_oracled", oracle=_FLAGSHIP_ORACLE)
def flagship_search_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 + §3.2 — the ENTIRE search pipeline (C3 chunk → P1 cleanse →
    P2 filter → E1 hash-embed → Q2 cosine KNN top-10 → E3 score → Q7-Q9
    rerank/threshold/assembly) hash-checked end-to-end against one DuckDB
    oracle.  Possible because every stage, including the embedder (md5-60bit
    feature hashing) and the scorer, is bit-reproducible in SQL."""
    return _flagship_pipeline(spark, sf_dir)


@query("flagship_search_remote_slot", oracle=_FLAGSHIP_ORACLE)
def flagship_search_remote_slot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME flagship dataflow through the PRODUCTION embedding slot:
    RemoteEmbedder's batching / retry / fp32 / null-skip machinery runs for
    real inside the pandas UDF workers, against a deterministic transport
    that 'calls' the local model — so the production code path itself is
    value-checked by the identical DuckDB oracle, not just unit-mocked."""
    from openai_vector_search_demo_spark.embedding.embedder import (
        LocalModelTransport,
        RemoteEmbedder,
    )
    emb = RemoteEmbedder(LocalModelTransport(), dim=64, batch_size=64)
    return _flagship_pipeline(spark, sf_dir, embedder=emb)


@query("flagship_search")  # embed UDF → not SQL-expressible → rows-only check
def flagship_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 + §3.2 end-to-end: documents → chunk → cleanse → embed → KNN
    top-10 → rerank → answer shape.  The bench's pipeline headline."""
    from openai_vector_search_demo_spark.plans.pipeline import (
        ingest_documents,
        search,
    )
    docs = t(spark, sf_dir, "documents")
    chunks = ingest_documents(docs, text_col="text", path_col="source")
    return search(chunks, "how does a hash join work on a spark table",
                  k=10, score_threshold=0)


# ---------------------------------------------------------------------------
