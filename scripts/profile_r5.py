"""Round-5 profiling: where do flagship / curation / stored-ANN spend time?"""
import os
import sys
import time

sys.path.insert(0, "/root/repo")
from openai_vector_search_demo_spark.session import get_spark

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("profile_r5")
spark.sparkContext.setLogLevel("ERROR")
spark.read.parquet(f"{sf_dir}/region.parquet").count()

import __spark_entry__ as entry_mod
registry = entry_mod.queries()


def timed(label, fn, n=3):
    best = None
    for _ in range(n):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    print(f"{label:50s} {best:7.3f}s")
    return best


from pyspark.sql import functions as F
from openai_vector_search_demo_spark.queries import t

# --- flagship stages ---
from openai_vector_search_demo_spark.embedding.embedder import embed_text, embed_udf
from openai_vector_search_demo_spark.functions.text import cleanse_text, non_empty
from openai_vector_search_demo_spark.functions.vectors import cosine_similarity, vector_lit
from openai_vector_search_demo_spark.operators.chunking import chunk_documents

docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
timed("docs scan+count", lambda: docs.count())
chunked = chunk_documents(docs, text_col="text", chunk_col="page_content")
timed("chunk (HOF word_chunks + posexplode)", lambda: chunked.count())
kept = (chunked.withColumn("_cleansed", cleanse_text("page_content"))
        .filter(non_empty(F.col("_cleansed"))))
timed("chunk+cleanse+filter", lambda: kept.count())
embedded = (kept.withColumn("embedding", embed_udf()(F.col("_cleansed")))
            .filter(F.col("embedding").isNotNull()))
timed("chunk+cleanse+embed", lambda: embedded.count())
qvec = embed_text("how is lineitem revenue aggregated per quarter")
scored = embedded.withColumn("sim", cosine_similarity(F.col("embedding"), vector_lit(qvec)))
timed("...+cosine HOF+top10", lambda: scored.orderBy(F.col("sim").desc()).limit(10).collect())
timed("flagship full query", lambda: registry["flagship_search_oracled"](spark, sf_dir).collect())

# --- curation stages ---
from openai_vector_search_demo_spark.functions import text_analysis as ta
from openai_vector_search_demo_spark.operators.dedup import duplicate_clusters, minhash_lsh_pairs

cdocs = t(spark, sf_dir, "documents")
timed("with_text_scores", lambda: ta.with_text_scores(cdocs).count())
timed("minhash_lsh_pairs", lambda: minhash_lsh_pairs(cdocs.select("doc_id", "text"), k=3, num_hashes=16, bands=4, threshold=0.5).count())


def cc():
    pairs = minhash_lsh_pairs(cdocs.select("doc_id", "text"), k=3, num_hashes=16, bands=4, threshold=0.5)
    return duplicate_clusters(pairs).count()


timed("pairs+clusters", cc)
timed("curation full query", lambda: registry["curation_pipeline"](spark, sf_dir).collect())

# --- stored ANN stages ---
emb = t(spark, sf_dir, "embeddings")
timed("qvec .first()", lambda: emb.filter(F.col("vec_id") == 0).select("embedding").first())
from openai_vector_search_demo_spark.operators.ann import hyperplanes, query_buckets
from openai_vector_search_demo_spark.queries import _lsh_store
planes = hyperplanes(64, nbits=8, seed=42)
store = _lsh_store(spark, sf_dir, emb, planes)
timed("spark.read.parquet(store) full-listing count", lambda: spark.read.parquet(store).limit(1).count())
qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
probes = query_buckets(qv, planes, probe_hamming=1)
existing = [f"{store}/bucket={b}" for b in probes if os.path.isdir(f"{store}/bucket={b}")]
print(f"probes={len(probes)} existing dirs={len(existing)}")
timed("direct-path read of probed buckets",
      lambda: spark.read.option("basePath", store).parquet(*existing).count())
timed("ann_lsh_knn (inline)", lambda: registry["ann_lsh_knn"](spark, sf_dir).collect())
timed("ann_lsh_stored_knn (current)", lambda: registry["ann_lsh_stored_knn"](spark, sf_dir).collect())
