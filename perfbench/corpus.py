"""Corpus workload: MinHash near-duplicate clustering and IVF top-k.

Seeded documents with planted near-duplicate families go through
``dedup.minhash_banded`` → ``banded_candidate_pairs`` →
``jaccard_pairs`` → ``cluster.duplicate_clusters``; seeded embeddings
with planted nearest neighbours go through
``similarity.build_centroids`` → ``ivf_topk`` in query batches.  The
clusters must equal the planted families, and at least
``RECALL_FLOOR`` of the queries must get their planted twin first.
"""

from __future__ import annotations

import os

from gen_corpus import Corpus, Embeddings, generate_corpus, generate_embeddings

# LSH shape: 32 hashes in 8 bands of 4.  A planted duplicate (Jaccard
# >= 0.94) then misses every band with probability (1 - 0.94**4)**8,
# about 5e-6, so the planted families are recovered exactly.
NUM_HASHES = 32
BANDS = 8
JACCARD_THRESHOLD = 0.5
NUM_CENTROIDS = 16
PROBES = 4
TOP_K = 5
RECALL_FLOOR = 0.95


def write_inputs(corpus: Corpus, emb: Embeddings, work: str, files: int) -> dict:
    """Both inputs as parquet files; returns their directories."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = {}
    for name, rows, schema in (
        ("docs", corpus.docs, pa.schema([("doc_id", pa.int64()), ("text", pa.string())])),
        ("vecs", emb.vectors, pa.schema([("vec_id", pa.int64()),
                                         ("embedding", pa.list_(pa.float64()))])),
    ):
        path = os.path.join(work, name)
        os.makedirs(path)
        for i in range(files):
            part = rows[i * len(rows) // files:(i + 1) * len(rows) // files]
            cols = list(zip(*part))
            pq.write_table(pa.Table.from_arrays([pa.array(c, t) for c, t in zip(
                cols, schema.types)], schema=schema),
                os.path.join(path, f"part-{i:03d}.parquet"))
        out[name] = path
    return out


def near_dup_clusters(docs):
    """The near-dup chain as one lazy plan; returns the cluster frame."""
    from dump1090_postgis_spark.datapipe import cluster, dedup

    banded = dedup.minhash_banded(docs, num_hashes=NUM_HASHES, bands=BANDS)
    pairs = dedup.jaccard_pairs(docs, dedup.banded_candidate_pairs(banded),
                                threshold=JACCARD_THRESHOLD)
    return cluster.duplicate_clusters(docs, pairs)


def collect_clusters(clusters) -> tuple[int, set[frozenset]]:
    """(canonical doc count, multi-member clusters as id sets)."""
    from pyspark.sql import functions as F

    rows = clusters.filter(F.col("cluster_size") > 1) \
        .select("doc_id", "component").collect()
    n_canon = clusters.filter(F.col("is_canonical")).count()
    groups: dict[int, set] = {}
    for r in rows:
        groups.setdefault(r["component"], set()).add(r["doc_id"])
    return n_canon, {frozenset(g) for g in groups.values()}


def check_clusters(n_canon: int, groups: set[frozenset], corpus: Corpus) -> list[str]:
    errs = []
    if n_canon != corpus.distinct_docs:
        errs.append(f"canonical docs {n_canon} != planted distinct {corpus.distinct_docs}")
    planted = {frozenset(f) for f in corpus.families}
    if groups != planted:
        found = len(groups & planted)
        errs.append(f"clusters: {found}/{len(planted)} planted families recovered, "
                    f"{len(groups - planted)} spurious")
    return errs


def build_index(vecs):
    from dump1090_postgis_spark.datapipe import similarity

    return similarity.build_centroids(vecs, num_centroids=NUM_CENTROIDS) \
        .localCheckpoint(eager=True)


def topk(vecs, centroids, query_ids: list[int]) -> list:
    from dump1090_postgis_spark.datapipe import similarity
    from pyspark.sql import functions as F

    q = vecs.filter(F.col("vec_id").isin(query_ids))
    return similarity.ivf_topk(vecs, q, centroids, k=TOP_K, probes=PROBES).collect()


def twin_recall(rows: list, query_ids: list[int], emb: Embeddings) -> float:
    """Share of queries whose planted twin is ranked first."""
    first = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
    return sum(first.get(q) == emb.twin[q] for q in query_ids) / len(query_ids)


def query_batches(emb: Embeddings, batch: int) -> list[list[int]]:
    return [emb.queries[i:i + batch] for i in range(0, len(emb.queries), batch)]


def make_inputs(seed: int, size: dict) -> tuple[Corpus, Embeddings]:
    return (generate_corpus(seed, size["docs"]),
            generate_embeddings(seed, size["vectors"], size["dim"], size["queries"]))
