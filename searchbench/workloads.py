"""The three workloads: bulk_ingest, search_serve, ingest_while_serving.

Every call into the program runs on the main thread through its public
functions.  Each timed call is followed, outside the timed region, by the
independent checks of ``checks.py``; a call that raises or fails a check
counts as failed.

With tracing on, composite calls are split into their layer calls with an
explicit materialization at each boundary (``ingest_documents`` into chunk,
cleanse/filter, embed and key/write; ``search`` into ``embed_text``, ``knn``
with its ``localCheckpoint``, and scorer plus ``rerank``), each under its
own span.  The split calls the same public functions in the same order as
the composite does.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from checks import (
    Reference,
    ann_ok,
    dup_recall,
    expected_search,
    recall_at_k,
    search_ok,
)
from spans import Tracer

K = 10
ANN_EVERY = 6      # search_serve's cycle: five search() calls, one ANN read

# Sizes per workload.  ``tiny`` keeps every step and check but shrinks the
# inputs so the self-tests run in seconds.
SIZES = {
    "full": {
        "bulk_ingest": dict(warm_docs=100, batch_docs=400, n_batches=12),
        "search_serve": dict(docs=400, queries=400),
        "ingest_while_serving": dict(docs=300, batch_docs=30, n_batches=12,
                                     reads_per_round=2),
    },
    "tiny": {
        "bulk_ingest": dict(warm_docs=20, batch_docs=40, n_batches=2),
        "search_serve": dict(docs=40, queries=6),
        "ingest_while_serving": dict(docs=40, batch_docs=10, n_batches=2,
                                     reads_per_round=2),
    },
}
DOC_WORDS = (150, 1500)


@dataclass
class Store:
    """One built store: chunk table, band index and NSW graph."""
    root: str
    clusters: dict[int, int]   # doc id -> its near-duplicate cluster
    stride: int = 0

    @property
    def dropped(self) -> list[int]:
        """Cluster members other than the representative (the least id)."""
        return sorted(i for i, c in self.clusters.items() if i != c)

    @property
    def chunks(self) -> str:
        return os.path.join(self.root, "chunks")

    @property
    def band(self) -> str:
        return os.path.join(self.root, "band")

    @property
    def nsw(self) -> str:
        return os.path.join(self.root, "nsw")


@dataclass
class Bench:
    spark: object
    tracer: Tracer
    work: str
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    checked: set = field(default_factory=set)     # kinds of check run
    samples: dict = field(default_factory=dict)
    values: dict = field(default_factory=dict)
    traced: bool = False
    prefix: str = ""          # "probe." while checking a store after a run

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(self.prefix + name, []).append(value)

    def result(self, what: str, error: str | None) -> None:
        """Count one checked output; ``error`` is why it failed, or None."""
        self.checked.add(what)
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.failures.append(f"{what}: {error}")

    def timed(self, what: str, fn):
        """Run one call; return (value, seconds), or (None, seconds) after
        counting the call as failed when it raises."""
        c0 = cpu_s(self.spark)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed call is data
            self.result(what, f"raised {type(exc).__name__}: {exc}")
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        self.sample(what + "_cpu_ms", (cpu_s(self.spark) - c0) * 1e3)
        return out, dt


def cpu_s(spark) -> float:
    """CPU seconds used so far by this process, its JVM and the JVM's
    descendants (the Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    t = os.times()
    total = t.user + t.system
    proc = getattr(spark.sparkContext._gateway, "proc", None) if spark else None
    if proc is None:
        return total
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = (int(f[1]), (int(f[11]) + int(f[12])) / tick)
    kids = {proc.pid}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in kids and pid not in kids:
                kids.add(pid)
                grew = True
    return total + sum(stats[p][1] for p in kids if p in stats)


# ---------------------------------------------------------------------------
# inputs


def write_docs(docs: list[gen.Doc], path: str) -> int:
    """Write generated docs as one parquet file; returns input text bytes."""
    texts = [d.text for d in docs]
    table = pa.table({
        "source": [d.source for d in docs],
        "text": texts,
        "doc_id": pa.array([d.doc_id for d in docs], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return sum(len(t.encode()) for t in texts)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# the write path


def _keyed(df):
    """Chunk rows plus the benchmark's ids: ``doc_id`` and ``label`` (the
    generator's topic) parsed from the path, ``vec_id = doc_id * 8 +
    page_no`` (docs have at most 6 chunks)."""
    from pyspark.sql import functions as F
    doc_id = F.regexp_extract("doc_path", r"/d(\d+)\.txt$", 1).cast("long")
    return (df.withColumn("doc_id", doc_id)
            .withColumn("vec_id", doc_id * 8 + F.col("page_no"))
            .withColumn("label",
                        F.regexp_extract("doc_path", r"^t(\d+)/", 1)
                        .cast("int")))


def ingest(b: Bench, docs):
    """``ingest_documents`` over ``docs`` (source, text); with tracing on,
    split into its layer calls.  Returns the keyed chunk frame and, when
    split, the persisted embed frame to unpersist once it is written."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.embedding.embedder import embed_udf
    from openai_vector_search_demo_spark.functions.hashing import record_key
    from openai_vector_search_demo_spark.functions.text import (
        cleanse_text,
        non_empty,
    )
    from openai_vector_search_demo_spark.operators.chunking import (
        chunk_documents,
    )
    from openai_vector_search_demo_spark.plans.pipeline import (
        ingest_documents,
        spread_for_python,
    )

    tr = b.tracer
    if not tr.enabled:
        return _keyed(ingest_documents(docs, text_col="text",
                                       path_col="source")), None
    src = spread_for_python(
        docs.select(F.col("source").alias("doc_path"), F.col("text")))
    with tr.span("operators.chunking.chunk_documents") as sp:
        chunked = chunk_documents(src, text_col="text",
                                  chunk_col="page_content").persist()
        sp.counts["rows_out"] = n_chunks = chunked.count()
    with tr.span("functions.text.cleanse_filter") as sp:
        kept = (chunked.withColumn("_cleansed", cleanse_text("page_content"))
                .filter(non_empty(F.col("_cleansed"))).persist())
        n_kept = kept.count()
        sp.counts.update(kept=n_kept, rows_in=n_chunks)
    with tr.span("embedding.embed_udf") as sp:
        embedded = kept.withColumn(
            "embedding", embed_udf()(F.col("_cleansed"))).persist()
        row = embedded.agg(F.count(F.lit(1)).alias("n"),
                           F.count("embedding").alias("ok")).first()
        sp.counts.update(rows_in=row["n"], nulls=row["n"] - row["ok"])
    for df in (chunked, kept):
        df.unpersist()
    return _keyed(embedded.filter(F.col("embedding").isNotNull())
                  .withColumn("id", record_key("doc_path", "page_no"))
                  .withColumn("tenant", F.lit("default"))
                  .select("id", "tenant", "doc_path", "page_no",
                          "page_content", "embedding")), embedded


def served(b: Bench, store: Store):
    """The table the serving calls read: stored chunks minus the docs that
    dedup dropped."""
    from pyspark.sql import functions as F
    df = b.spark.read.parquet(store.chunks)
    if store.dropped:
        df = df.filter(~F.col("doc_id").isin(store.dropped))
    return df


def build(b: Bench, docs_path: str, root: str, in_bytes: int) -> Store:
    """The batch build: ingest → chunk-table write → MinHash-LSH pairs →
    duplicate clusters → band index of the kept docs → NSW index of the
    kept chunks."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.caching import cache_scope
    from openai_vector_search_demo_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
        write_band_index,
    )
    from openai_vector_search_demo_spark.operators.nsw import (
        read_l1_meta,
        write_nsw_index,
    )

    tr, spark = b.tracer, b.spark
    store = Store(root, {})
    docs = spark.read.parquet(docs_path)
    with cache_scope():
        with tr.span("plans.pipeline.ingest_documents") as sp:
            chunks, persisted = ingest(b, docs.select("source", "text"))
            chunks.write.mode("overwrite").parquet(store.chunks)
        if persisted is not None:
            persisted.unpersist()
        if tr.enabled:
            sp.counts.update(chunk_bytes=dir_bytes(store.chunks),
                             input_bytes=in_bytes)
        with tr.span("operators.dedup.minhash_lsh_pairs") as sp:
            pairs = minhash_lsh_pairs(docs, id_col="doc_id", text_col="text")
            if tr.enabled:
                pairs = pairs.persist()
                sp.counts["pairs"] = len(pairs.collect())
        with tr.span("operators.dedup.duplicate_clusters"):
            store.clusters = {int(r["id"]): int(r["cluster_id"])
                              for r in duplicate_clusters(pairs).collect()}
        if tr.enabled:
            pairs.unpersist()
    kept = docs
    if store.dropped:
        kept = docs.filter(~F.col("doc_id").isin(store.dropped))
    with tr.span("operators.dedup.write_band_index") as sp:
        write_band_index(kept, store.band, id_col="doc_id", text_col="text")
    if tr.enabled:
        sp.counts["bytes"] = (dir_bytes(store.band)
                              + dir_bytes(store.band + "_sigs"))
    with tr.span("operators.nsw.write_nsw_index") as sp:
        write_nsw_index(served(b, store).select("vec_id", "embedding"),
                        store.nsw)
    store.stride = int(read_l1_meta(spark, store.nsw)["stride"])
    if tr.enabled:
        sp.counts.update(bytes=dir_bytes(store.nsw),
                         vectors=served(b, store).count())
    return store


def check_build(b: Bench, store: Store, docs: list[gen.Doc],
                pairs: list[tuple[int, int]]) -> None:
    """Chunk count against the generator's arithmetic, a sample of stored
    embeddings against ``HashNgramEmbedder._vec``, and the duplicate
    clusters against the planted pairs (sampled as ``dup_recall``)."""
    from openai_vector_search_demo_spark.embedding.embedder import (
        HashNgramEmbedder,
    )
    spark = b.spark
    chunks = spark.read.parquet(store.chunks)
    n = chunks.count()
    want = gen.expected_chunks(docs)
    b.result("chunk_count", None if n == want else
             f"{n} chunks stored, word counts give {want}")

    emb = HashNgramEmbedder()
    bad = 0
    for r in chunks.select("page_content", "embedding").limit(16).collect():
        text = r["page_content"].replace("\n", " ").replace("  ", " ")
        ref = np.asarray(emb._vec(text), dtype=np.float32)
        bad += not np.array_equal(np.asarray(r["embedding"],
                                             dtype=np.float32), ref)
    b.result("embedding_sample", None if bad == 0 else
             f"{bad} of 16 stored embeddings differ from _vec")

    cluster = store.clusters
    planted = {i for p in pairs for i in p}
    stray = sorted(i for i in cluster if i not in planted)
    b.result("dedup_precision", None if not stray else
             f"docs clustered without a planted duplicate: {stray[:5]}")
    b.sample("dup_recall", dup_recall(
        pairs, lambda x, y: x in cluster and cluster[x] == cluster.get(y)))


# ---------------------------------------------------------------------------
# the read path


def reference(b: Bench, df) -> Reference:
    return Reference(df.select("vec_id", "id", "doc_path", "page_no",
                               "page_content", "embedding").toPandas())


def run_search(b: Bench, table, question: str):
    """``search(...).collect()``; with tracing on, split into its layer
    calls with the same arguments the composite passes."""
    from openai_vector_search_demo_spark.embedding.embedder import embed_text
    from openai_vector_search_demo_spark.operators.knn import knn
    from openai_vector_search_demo_spark.operators.rerank import (
        deterministic_scorer,
        rerank,
    )
    from openai_vector_search_demo_spark.plans.pipeline import search

    tr = b.tracer
    if not tr.enabled:
        return search(table, question, k=K).collect()
    with tr.span("plans.pipeline.search"):
        with tr.span("embedding.embed_text"):
            qvec = embed_text(question)
        with tr.span("operators.knn.knn"):
            hits = knn(table, qvec, k=K, sim_col="similarity",
                       tie_break="id").localCheckpoint()
        with tr.span("operators.rerank.rerank"):
            return rerank(deterministic_scorer(question, hits), k=K,
                          known_small=True).collect()


def run_ann(b: Bench, store: Store, table, qvec):
    from openai_vector_search_demo_spark.operators.nsw import nsw_stored_knn
    with b.tracer.span("operators.nsw.nsw_stored_knn"):
        return nsw_stored_knn(b.spark, store.nsw,
                              table.select("vec_id", "label", "embedding"),
                              qvec, k=K, stride=store.stride).collect()


def serve_one(b: Bench, store: Store, table, ref: Reference, q: gen.Query,
              request: str) -> None:
    """One timed read call plus its checks."""
    from openai_vector_search_demo_spark.config import SCORE_THRESHOLD
    from openai_vector_search_demo_spark.embedding.embedder import embed_text

    with b.tracer.span("request." + q.kind, request=request):
        if q.kind == "search":
            rows, dt = b.timed("search", lambda: run_search(b, table, q.text))
        else:
            with b.tracer.span("embedding.embed_text"):
                qvec = embed_text(q.text)
            rows, dt = b.timed("ann", lambda: run_ann(b, store, table, qvec))
    if rows is None:
        return
    b.sample(q.kind + "_ms", dt * 1e3)
    qvec = embed_text(q.text)
    if q.kind == "search":
        want = expected_search(ref, q.text, qvec, K, SCORE_THRESHOLD)
        b.result("search", search_ok(rows, want))
    else:
        b.result("ann", ann_ok(rows, ref, qvec, K))
        b.sample("ann_recall", recall_at_k([r["vec_id"] for r in rows],
                                           ref, qvec, K))


# ---------------------------------------------------------------------------
# writes beside reads


def admit(b: Bench, store: Store, batch_path: str, existing):
    """One batch: ingest, dedup admission against the band index, NSW
    upsert of the admitted chunks, append to the chunk table.  Returns the
    ingested and the admitted chunk frames and the verified matches."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.caching import cache_scope
    from openai_vector_search_demo_spark.operators.dedup import (
        ingest_batch_against_index,
    )
    from openai_vector_search_demo_spark.operators.nsw import upsert_nsw_index

    tr, spark = b.tracer, b.spark
    docs = spark.read.parquet(batch_path)
    with cache_scope():
        with tr.span("plans.pipeline.ingest_documents"):
            chunks, persisted = ingest(b, docs.select("source", "text"))
            staged = chunks.localCheckpoint(eager=True)
        if persisted is not None:
            persisted.unpersist()
        with tr.span("operators.dedup.ingest_batch_against_index") as sp:
            matches = [(int(r["new_id"]), int(r["existing_id"]))
                       for r in ingest_batch_against_index(
                           spark, docs, store.band, id_col="doc_id",
                           text_col="text").collect()]
        rejected = sorted({m[0] for m in matches})
        admitted = staged
        if rejected:
            admitted = staged.filter(~F.col("doc_id").isin(rejected))
        if tr.enabled:
            n_docs = docs.count()
            sp.counts.update(admitted=n_docs - len(rejected), offered=n_docs)
        before = dir_bytes(store.nsw) if tr.enabled else 0
        with tr.span("operators.nsw.upsert_nsw_index") as sp:
            upsert_nsw_index(spark, store.nsw,
                             admitted.select("vec_id", "embedding"),
                             existing.select("vec_id", "embedding"))
        if tr.enabled:
            sp.counts["bytes"] = dir_bytes(store.nsw) - before
        admitted.write.mode("append").parquet(store.chunks)
        return staged, admitted, matches


# ---------------------------------------------------------------------------
# workloads


def _session(b: Bench) -> float:
    from openai_vector_search_demo_spark.session import get_spark
    t0 = time.perf_counter()
    with b.tracer.span("session.get_spark"):
        b.spark = get_spark(app_name="searchbench")
        b.tracer.spark = b.spark
    return time.perf_counter() - t0


def _setup(b: Bench, docs_path: str, in_bytes: int) -> Store:
    """Session start plus one build of the set-up store: ``setup_s``.  Both
    are once-per-process costs (the first build also pays the JVM's and the
    Python workers' warm-up), so a run measures them once.  With tracing
    on, two warm builds follow, traced then untraced; their difference is
    the tracing overhead (an overestimate by whatever warm-up is left for
    the earlier one).  The last store built is served."""
    session_s = _session(b)
    tr = b.tracer
    times, store = [], None
    for i in range(3 if b.traced else 1):
        if store is not None:
            shutil.rmtree(store.root)
        tr.enabled = b.traced and i == 1
        t0 = time.perf_counter()
        with tr.span("setup.build", request=f"setup{i}"):
            store = build(b, docs_path, os.path.join(b.work, f"setup{i}"),
                          in_bytes)
        times.append(time.perf_counter() - t0)
    tr.enabled = b.traced
    b.values["setup_s"] = session_s + times[0]
    b.values["setup_build_s"] = times[0]
    if b.traced:
        b.values["tracing.overhead_s"] = times[1] - times[2]
    return store


def _warm_up(b: Bench, store: Store, table, ref: Reference,
             seed: int) -> None:
    """One checked search() and one ANN read before the timed loop: the
    first call of each plan shape pays its code generation.  Counted in
    ``setup_s``; samples land under ``warmup.``."""
    t0 = time.perf_counter()
    b.prefix = "warmup."
    for j, q in enumerate(gen.Generator(seed + 104729).queries(2, 2)):
        serve_one(b, store, table, ref, q, f"warmup{j}")
    b.prefix = ""
    b.values["setup_s"] += time.perf_counter() - t0


def _inputs(b: Bench, name: str, docs: list[gen.Doc]) -> tuple[str, int]:
    path = os.path.join(b.work, "in", name)
    return path, write_docs(docs, path)


def _loop(seconds: float, items, step) -> int:
    """``step`` over ``items`` in order, stopping at the step boundary
    nearest to ``seconds`` (at the mean step time so far); at least one
    step.  Returns the number of steps."""
    t0 = time.perf_counter()
    n = 0
    for item in items:
        elapsed = time.perf_counter() - t0
        if n and elapsed + elapsed / n / 2 > seconds:
            break
        step(item)
        n += 1
    return n


def bulk_ingest(b: Bench, seed: int, seconds: float, size: dict) -> None:
    """Whole builds of fresh seeded batches; set-up builds a small warm-up
    corpus.  Traced runs also probe the last store's reads and admission."""
    g = gen.Generator(seed)
    warm, _ = g.corpus(size["warm_docs"], 0.1, *DOC_WORDS)
    batches = [g.corpus(size["batch_docs"], 0.1, *DOC_WORDS)
               for _ in range(size["n_batches"])]
    probe_q = g.queries(2, ann_every=2)
    _setup(b, *_inputs(b, "warm", warm))
    batch_in = [_inputs(b, f"batch{i}", d) for i, (d, _) in enumerate(batches)]
    last = []

    def step(i):
        (path, nbytes), (docs, pairs) = batch_in[i], batches[i]
        root = os.path.join(b.work, f"build{i}")
        store, dt = b.timed("build", lambda: build(b, path, root, nbytes))
        if store is None:
            raise RuntimeError(b.failures[-1])
        b.result("build", None)
        b.sample("build_ms", dt * 1e3)
        check_build(b, store, docs, pairs)
        if last:
            shutil.rmtree(last.pop()[0].root)
        last.append((store, docs))

    b.values["units"] = _loop(seconds, range(len(batches)), step) \
        * size["batch_docs"]
    if b.traced:
        probe_store(b, *last[0], probe_q, seed)


def probe_store(b: Bench, store: Store, docs: list[gen.Doc],
                queries: list[gen.Query], seed: int) -> None:
    """End-of-run check of a built store, in traced runs, so that every
    layer shows in every workload's trace: the given reads, then one small
    admitted batch (two planted near-duplicates, two new docs) and one ANN
    read of the upserted graph.  Samples land under ``probe.``."""
    b.prefix = "probe."
    table = served(b, store)
    ref = reference(b, table)
    for j, q in enumerate(queries):
        serve_one(b, store, table, ref, q, f"probe{j}")
    g = gen.Generator(seed + 7919)
    g.next_id = max(d.doc_id for d in docs) + 1
    dropped = set(store.dropped)
    batch, pairs = g.corpus(4, 0.5, *DOC_WORDS,
                            pool=[d for d in docs if d.doc_id not in dropped])
    path, _ = _inputs(b, "probe", batch)
    if admit_and_check(b, store, path, batch, pairs, table, ref,
                       [gen.Query(" ".join(batch[0].words[:8]), False, "ann")],
                       "probe") is None:
        raise RuntimeError(b.failures[-1])
    b.prefix = ""


def admit_and_check(b: Bench, store: Store, path: str, batch, pairs, table,
                    ref: Reference, queries, tag: str):
    """One timed admitted batch and its checks, then ``queries`` against
    the grown store.  Returns the grown table, or None if the admission
    raised."""
    with b.tracer.span("request.admit", request=tag):
        out, dt = b.timed("admit", lambda: admit(b, store, path, table))
    if out is None:
        return None
    staged, admitted, matches = out
    b.sample("admit_ms", dt * 1e3)
    n = staged.count()
    want = gen.expected_chunks(batch)
    stray = sorted({m[0] for m in matches} - {p[0] for p in pairs})
    err = None
    if n != want:
        err = f"{n} chunks ingested, word counts give {want}"
    elif stray:
        err = f"admission rejected docs with no planted duplicate: {stray}"
    b.result("admit", err)
    caught = set(matches)
    b.sample("admit_dup_recall",
             dup_recall(pairs, lambda x, y: (x, y) in caught))
    ref.extend(reference(b, admitted))
    grown = served(b, store)
    for j, q in enumerate(queries):
        serve_one(b, store, grown, ref, q, f"{tag}q{j}")
    return grown


def search_serve(b: Bench, seed: int, seconds: float, size: dict) -> None:
    """One closed-loop client against a fresh store: cycles of seeded
    search() calls closed by one ANN read, until the time is up.  Whole
    cycles keep the call mix the same in every run."""
    inputs = gen.generate(seed, n_docs=size["docs"], dup_frac=0.1,
                          doc_words=DOC_WORDS, n_queries=size["queries"],
                          ann_every=ANN_EVERY)
    store = _setup(b, *_inputs(b, "corpus", inputs.docs))
    check_build(b, store, inputs.docs, inputs.dup_pairs)
    table = served(b, store)
    ref = reference(b, table)
    _warm_up(b, store, table, ref, seed)
    qs = list(enumerate(inputs.queries))
    cycles = [qs[i:i + ANN_EVERY] for i in range(0, len(qs), ANN_EVERY)]

    def cycle(c):
        for j, q in c:
            serve_one(b, store, table, ref, q, f"q{j}")

    b.values["units"] = ANN_EVERY * _loop(seconds, cycles, cycle)
    if b.traced:
        probe_store(b, store, inputs.docs, [], seed)


def ingest_while_serving(b: Bench, seed: int, seconds: float,
                         size: dict) -> None:
    """Rounds of: admit a seeded batch (ingest, dedup admission, NSW upsert,
    append), then reads of the grown store, until the time is up."""
    rpr = size["reads_per_round"]
    inputs = gen.generate(seed, n_docs=size["docs"], dup_frac=0.1,
                          doc_words=DOC_WORDS,
                          n_queries=rpr * size["n_batches"], ann_every=2,
                          n_batches=size["n_batches"],
                          batch_docs=size["batch_docs"])
    store = _setup(b, *_inputs(b, "corpus", inputs.docs))
    batch_in = [_inputs(b, f"batch{i}", d)[0]
                for i, d in enumerate(inputs.batches)]
    check_build(b, store, inputs.docs, inputs.dup_pairs)
    state = {"table": served(b, store)}
    ref = reference(b, state["table"])

    def step(i):
        grown = admit_and_check(b, store, batch_in[i], inputs.batches[i],
                                inputs.batch_dup_pairs[i], state["table"],
                                ref, inputs.queries[rpr * i:rpr * (i + 1)],
                                f"r{i}")
        if grown is None:
            raise RuntimeError(b.failures[-1])
        state["table"] = grown

    b.values["units"] = _loop(seconds, range(size["n_batches"]), step) \
        * size["batch_docs"]


WORKLOADS = {
    "bulk_ingest": bulk_ingest,
    "search_serve": search_serve,
    "ingest_while_serving": ingest_while_serving,
}
