"""The benchmark's workloads.

Each workload has a ``setup`` (timed: data generation, store load, index
build; repeatable, each call starts over from the seed), a ``bind`` that
re-attaches Spark-bound handles to a new session, ``save_state`` and
``restore_state`` (every phase of a traced run starts from the same state),
an untimed ``warmup``, ``cycles_for`` (the fixed work a window of
``--seconds`` gets), a ``cycle`` (one closed-loop round of operations,
each timed and gated), ``GATES`` (the gates its cycles apply) and a
``finish`` that reports the workload's metrics. Inputs come only from the
seed; the package sees nothing but the generated data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from perfbench import data, gates as G
from perfbench.harness import Recorder, dir_bytes, median

DIM = 128
K = 10
#: the serve workload's write calls, one of each per rotation: the three
#: write types, then the compaction guard that follows every append
WRITES = ("store.add_vectors", "store.upsert_vectors", "store.delete_vectors",
          "store.maybe_optimize")
#: the corpus pipeline's steps, one of each per pass
STEPS = ("corpus.curation", "dedup.minhash_dedup", "pipeline.index_documents")
#: minhash_dedup's parameters (the package defaults, spelled out so the
#: gates and the reported twin recall use the same ones)
MINHASH = {"num_hashes": 64, "bands": 16, "threshold": 0.5}
#: the dedup must remove at least this share of the planted twins. MinHash
#: LSH is approximate, so its recall is reported, not required to be 1;
#: the floor catches a dedup that stops finding near-duplicates
TWIN_RECALL_FLOOR = 0.8
#: the chunk columns TextPipeline writes, promoted so retrieval can read them
CHUNK_KEYS = {
    "document_id": "long", "chunk_index": "int", "chunk_text": "string",
    "chunk_length": "int", "document_source": "string",
}


def _ids_scores(rows, id_col: str = "id", score_col: str = "similarity"):
    return [int(r[id_col]) for r in rows], [float(r[score_col]) for r in rows]


def _topk_rows(df):
    return df.select("id", "similarity").orderBy("rank", "id").collect()


def store_footprint(store, n_rows: int) -> dict:
    """Live files and bytes of the current snapshot, all bytes kept under
    the store directory, and live bytes per user vector byte."""
    live = [p[len("file:"):] if p.startswith("file:") else p for p in store.to_df().inputFiles()]
    live_bytes = sum(os.path.getsize(p) for p in live)
    total = dir_bytes(str(store.data_dir))
    return {
        "live_files": len(live),
        "live_bytes": live_bytes,
        "retained_bytes": max(total - live_bytes, 0),
        "space_amp": live_bytes / max(n_rows * DIM * 4, 1),
    }


class ServeMixed:
    """k-NN serving with writes beside the reads, one closed-loop client.

    Every cycle commits one write (rotating append, upsert, delete) and
    then runs one single query on each of the three routes (IVF, IVF plus
    filter, exact); after each delete a blocked batch query follows. Each
    write commits a new snapshot, so the reads after it re-resolve the
    manifest and read the new small files. The store is also held in
    numpy as the brute-force truth."""

    name = "serve_mixed"
    GATES = ("write_return", "row_count", "filter_match", "upsert_rank1",
             "exact_topk", "batch_complete", "batch_exact_set")

    def __init__(self, sizes: dict, seed: int):
        self.sz = sizes
        self.seed = seed
        self.recall: list[float] = []
        self.batch_df = None
        self.upserted: np.ndarray | None = None

    def setup(self, spark, work: str) -> None:
        from mlx_vector_db_spark.store import VectorStoreCatalog

        os.makedirs(work, exist_ok=True)
        self.rng = rng = np.random.default_rng(self.seed)
        self.mix = data.Mixture(rng, DIM)
        n = self.sz["rows"]
        self.x, self.cats = self.mix.sample(n)
        self.ids = np.arange(n, dtype=np.int64)
        self.next_id = n
        path = os.path.join(work, "vectors.parquet")
        data.write_vectors(path, self.ids, self.x, self.cats)
        self.root = os.path.join(work, "store")
        store = VectorStoreCatalog(spark, self.root).create_store(
            "bench", "serve", dimension=DIM, metric="cosine",
            promoted_keys={"category": "string"},
        )
        store.add_vectors(spark.read.parquet(path))
        store.build_index(nlist=self.sz["nlist"], seed=self.seed)
        self.store = store
        self.batch = data.perturb(rng, self.x[rng.integers(0, n, self.sz["batch"])])

    def bind(self, spark) -> None:
        from mlx_vector_db_spark.store import VectorStoreCatalog

        self.store = VectorStoreCatalog(spark, self.root).get_store("bench", "serve")
        self.batch_df = None

    def save_state(self) -> dict:
        snap = self.root + ".saved"
        shutil.copytree(self.root, snap)
        return {"dir": snap, "rng": self.rng.bit_generator.state, "ids": self.ids.copy(),
                "x": self.x.copy(), "cats": self.cats.copy(), "next_id": self.next_id,
                "upserted": self.upserted}

    def restore_state(self, st: dict) -> None:
        """Back to the saved store files and model; ``bind`` must follow."""
        shutil.rmtree(self.root)
        shutil.copytree(st["dir"], self.root)
        self.rng.bit_generator.state = st["rng"]
        self.ids, self.x, self.cats = st["ids"].copy(), st["x"].copy(), st["cats"].copy()
        self.next_id, self.upserted = st["next_id"], st["upserted"]
        self.recall = []

    # -- truth -------------------------------------------------------------

    def _truth(self, q: np.ndarray, mask: np.ndarray | None = None):
        ids, x = (self.ids, self.x) if mask is None else (self.ids[mask], self.x[mask])
        scores = G.cosine_scores(x, q)
        return G.topk_truth(ids, scores, K), dict(zip(ids.tolist(), scores.tolist()))

    def _count_gate(self, rec: Recorder) -> str | None:
        return rec.check("row_count", G.row_count, self.store.count(), len(self.ids),
                         corrupt=lambda g, w: (g - 1, w))

    # -- operations --------------------------------------------------------

    def add(self, rec: Recorder) -> None:
        # SDK wire shape: Python lists plus metadata dicts
        x_new, c_new = self.mix.sample(self.sz["add"])
        new_ids = np.arange(self.next_id, self.next_id + len(x_new), dtype=np.int64)
        meta = [{"category": data.CATEGORIES[int(c)], "source": "perfbench"} for c in c_new]
        added = rec.op("store.add_vectors", "bulk", "write", lambda: self.store.add_vectors(
            x_new.tolist(), metadata=meta, ids=new_ids.tolist()))
        if added is None:
            return
        self.next_id += len(x_new)
        self.ids = np.concatenate([self.ids, new_ids])
        self.x = np.concatenate([self.x, x_new])
        self.cats = np.concatenate([self.cats, c_new])
        rec.verdict("store.add_vectors", [
            rec.check("write_return", G.row_count, added, len(x_new),
                      corrupt=lambda g, w: (g - 1, w)),
            self._count_gate(rec),
        ])
        # the store's advice: call the idempotent compaction guard after
        # every append
        # a "guard" op: a manifest read on most calls, so its latency is
        # kept out of the write latencies (it still counts as write time)
        compacted = rec.op("store.maybe_optimize", "bulk", "guard",
                           lambda: self.store.maybe_optimize() or 0)
        if compacted:
            rec.verdict("store.maybe_optimize", [self._count_gate(rec)])

    def upsert(self, rec: Recorder) -> None:
        pos = self.rng.choice(len(self.ids), self.sz["upsert"], replace=False)
        up_ids = self.ids[pos]
        up_x = data.perturb(self.rng, self.x[pos], scale=0.3)
        meta = [{"category": data.CATEGORIES[int(c)]} for c in self.cats[pos]]
        res = rec.op("store.upsert_vectors", "bulk", "write", lambda: self.store.upsert_vectors(
            up_x.tolist(), metadata=meta, ids=up_ids.tolist()))
        if res is None:
            return
        self.x[pos] = up_x
        self.upserted = up_ids
        rec.verdict("store.upsert_vectors", [
            rec.check("write_return", lambda g, w: None if tuple(g) == w else
                      f"returned {g}, expected {w}", res, (len(up_ids), 0),
                      corrupt=lambda g, w: ((g[0] - 1, g[1] + 1), w)),
            self._count_gate(rec),
        ])

    def delete(self, rec: Recorder) -> None:
        alive = np.ones(len(self.ids), dtype=bool)
        if self.upserted is not None:
            alive[np.isin(self.ids, self.upserted)] = False
        doomed_pos = self.rng.choice(np.flatnonzero(alive), self.sz["delete"], replace=False)
        doomed = self.ids[doomed_pos]
        res = rec.op("store.delete_vectors", "bulk", "write",
                     lambda: self.store.delete_vectors(ids=doomed.tolist()))
        if res is None:
            return
        keep = np.ones(len(self.ids), dtype=bool)
        keep[doomed_pos] = False
        self.ids, self.x, self.cats = self.ids[keep], self.x[keep], self.cats[keep]
        rec.verdict("store.delete_vectors", [
            rec.check("write_return", G.row_count, res, len(doomed),
                      corrupt=lambda g, w: (g - 1, w)),
            self._count_gate(rec),
        ])

    def query_ivf(self, rec: Recorder, q: np.ndarray, category: str | None = None,
                  expect_rank1: int | None = None) -> None:
        name = "store.query_filtered" if category else "store.query"
        flt = {"category": category} if category else None
        rows = rec.op(name, "query", "query",
                      lambda: self.store.query(q.tolist(), k=K, filter_metadata=flt),
                      _topk_rows)
        if rows is None:
            return
        got, scores = _ids_scores(rows)
        mask = None if category is None else self.cats == data.CATEGORIES.index(category)
        (truth, _), _ = self._truth(q, mask)
        self.recall.append(G.recall(got, truth))
        reasons = []
        if category:
            cat_of = dict(zip(self.ids.tolist(), self.cats.tolist()))
            got_cats = [data.CATEGORIES[cat_of[i]] if i in cat_of else None for i in got]
            reasons.append(rec.check(
                "filter_match", G.all_match, got_cats, category,
                corrupt=lambda v, w: (v[:-1] + ["other"], w),
            ))
        if expect_rank1 is not None:
            # an upserted vector must come back first, at similarity ~1
            reasons.append(rec.check(
                "upsert_rank1", G.rank1, got, scores, expect_rank1, 1 - 1e-6,
                corrupt=lambda g, s, w, m: (G.swap_first_last(g), s, w, m),
            ))
        rec.verdict(name, reasons)

    def query_exact(self, rec: Recorder, q: np.ndarray) -> None:
        rows = rec.op("store.query_exact", "query", "query",
                      lambda: self.store.query(q.tolist(), k=K, use_index=False),
                      _topk_rows)
        if rows is None:
            return
        got, _ = _ids_scores(rows)
        (truth, tscores), score_of = self._truth(q)
        rec.verdict("store.query_exact", [rec.check(
            "exact_topk", G.exact_topk, got, truth, tscores, score_of,
            corrupt=lambda g, t, s, so: (G.swap_first_last(g), t, s, so),
        )])

    def batch_query(self, rec: Recorder) -> None:
        qdf = self.batch_df
        rows = rec.op("store.batch_query", "bulk", "batch",
                      lambda: self.store.batch_query(qdf, k=K, blocked=True),
                      lambda df: df.select("query_id", "id").collect())
        if rows is None:
            return
        per_q: dict[int, list[int]] = {}
        for r in rows:
            per_q.setdefault(int(r["query_id"]), []).append(int(r["id"]))
        # the blocked batch is an exact search: spot-check one query's set
        j = int(self.rng.integers(0, len(self.batch)))
        (truth, _), _ = self._truth(self.batch[j])
        rec.verdict("store.batch_query", [
            rec.check("batch_complete", G.row_count, len(rows), K * len(self.batch),
                      corrupt=lambda g, w: (g - 1, w)),
            rec.check("batch_exact_set", lambda g, t: None if set(g) == set(t) else
                      f"query {j}: ids {sorted(g)} != brute force {sorted(t)}",
                      per_q.get(j, []), truth,
                      corrupt=lambda g, t: (G.drop_last(g), t)),
        ])

    def cycle(self, rec: Recorder, i: int) -> None:
        write = i % 3
        if write == 0:
            self.add(rec)
        elif write == 1:
            self.upsert(rec)
        else:
            self.delete(rec)
        n = len(self.ids)
        if write == 1 and self.upserted is not None:
            target = int(self.upserted[int(self.rng.integers(0, len(self.upserted)))])
            row = int(np.flatnonzero(self.ids == target)[0])
            self.query_ivf(rec, self.x[row], expect_rank1=target)
        else:
            self.query_ivf(rec, data.perturb(self.rng, self.x[int(self.rng.integers(0, n))]))
        q = data.perturb(self.rng, self.x[int(self.rng.integers(0, n))])
        self.query_ivf(rec, q, category=data.CATEGORIES[int(self.rng.integers(0, 8))])
        self.query_exact(rec, q)
        if write == 2:
            self.batch_query(rec)

    def cycles_for(self, seconds: float) -> int:
        """Whole rotations of the three write types, one per 15 s of the
        window (a rotation takes about 11 s on a 4-core host; set-up
        and warm-up leave no time for more)."""
        return 3 * max(1, round(seconds / 15))

    def warmup(self, rec: Recorder) -> None:
        """One untimed write of each type, one IVF query, one exact query
        and one batch: a serving process has run its write paths and
        compiled its query plans before the traffic that counts. (A
        session's first add from Python lists, and its first batch, take
        about twice a warm one.)"""
        self.add(rec)
        self.upsert(rec)
        self.delete(rec)
        q = data.perturb(self.rng, self.x[int(self.rng.integers(0, len(self.ids)))])
        self.query_ivf(rec, q)
        self.query_exact(rec, q)
        self.batch_df = self.store.catalog.spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(self.batch)],
            "query_id long, embedding array<float>",
        )
        self.batch_query(rec)

    def finish(self, rec: Recorder) -> dict:
        t = rec.by_name
        # per-type medians: a change to any one write type moves these,
        # whichever type is slowest, and one slow call does not
        per_type = [median(t.get(n, [])) for n in WRITES]
        rotation_ms = sum(per_type)
        return {
            "write_p50_ms": sum(per_type[:3]) / 3,
            "throughput": median([len(self.batch) / ms * 1000.0
                                  for ms in t.get("store.batch_query", [])]),
            "throughput_is": f"batch_qps at batch size {len(self.batch)}",
            # vectors added or upserted per rotation over a rotation's
            # median write time
            "ingest_vps": (self.sz["add"] + self.sz["upsert"]) / rotation_ms * 1000.0,
            "rows": len(self.ids),
            **store_footprint(self.store, len(self.ids)),
        }


class Corpus:
    """One generated document set on disk, its planted twins, and the
    DuckDB oracle of the curation composition over the same file."""

    def __init__(self, rng: np.random.Generator, n: int, path: str):
        cols, self.twins = data.documents(rng, n)
        self.n_docs = len(cols["doc_id"])
        self.texts = dict(zip(cols["doc_id"].tolist(), cols["text"]))
        self._shingles = None
        self.dir = path
        os.makedirs(path, exist_ok=True)
        data.write_documents(os.path.join(path, "documents.parquet"), cols)
        self._oracle = None

    def df(self, spark):
        return spark.read.parquet(os.path.join(self.dir, "documents.parquet"))

    def shingles(self, ids) -> dict[int, frozenset]:
        if self._shingles is None:
            self._shingles = {d: G.shingle_set(t) for d, t in self.texts.items()}
        return {d: self._shingles[d] for d in ids}

    def oracle_rows(self) -> list[tuple]:
        if self._oracle is None:
            import duckdb

            from mlx_vector_db_spark.queries import ORACLES

            con = duckdb.connect()
            try:
                path = os.path.join(self.dir, "documents.parquet")
                con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
                self._oracle = [tuple(r) for r in con.execute(ORACLES["curation_pipeline"]).fetchall()]
            finally:
                con.close()
        return self._oracle


class CorpusPipeline:
    """documents -> curation -> near-dup removal -> chunks, embeddings and
    a fresh store -> retrieval queries against it, once per cycle. Every
    cycle is a warm pass over the same corpus, so a run has several
    samples of each step."""

    name = "corpus_pipeline"
    GATES = ("curation_oracle", "removed_are_near_dups", "twin_recall_floor",
             "survivors_subset", "retrieval_rank1")

    def __init__(self, sizes: dict, seed: int):
        self.sz = sizes
        self.seed = seed
        self.recall: list[float] = []
        self.dedup: dict[str, dict] = {}
        self.passes = 0

    def setup(self, spark, work: str) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.main = Corpus(self.rng, self.sz["docs"], os.path.join(work, "docs"))
        self.warm = Corpus(self.rng, self.sz["warm_docs"], os.path.join(work, "warm"))
        self.root = os.path.join(work, "store")
        self.bind(spark)

    def bind(self, spark) -> None:
        from mlx_vector_db_spark.store import VectorStoreCatalog

        self.spark = spark
        self.catalog = VectorStoreCatalog(spark, self.root)

    def save_state(self) -> dict:
        return {"rng": self.rng.bit_generator.state}

    def restore_state(self, st: dict) -> None:
        """Back to no stores and the saved generator; ``bind`` must follow."""
        shutil.rmtree(self.root, ignore_errors=True)
        self.rng.bit_generator.state = st["rng"]
        self.passes = 0
        self.recall = []
        self.dedup = {}

    def cycles_for(self, seconds: float) -> int:
        """One pass and its retrievals per whole 10 s of the window (a
        warm pass takes about 11 s on a 4-core host)."""
        return max(1, int(seconds // 10))

    def cycle(self, rec: Recorder, i: int) -> None:
        self.pipeline_pass(rec, self.main)
        self.retrieve(rec, self.sz["queries"])

    def warmup(self, rec: Recorder) -> None:
        """One untimed pass over a smaller corpus of its own: a session's
        first pass is mostly JIT warm-up (about 2x a warm pass at full
        size), and a smaller corpus warms the same code paths in less
        time."""
        self.pipeline_pass(rec, self.warm)
        self.retrieve(rec, 1)

    def pipeline_pass(self, rec: Recorder, corpus: Corpus) -> None:
        from mlx_vector_db_spark.operators.dedup import minhash_dedup
        from mlx_vector_db_spark.pipeline import TextPipeline
        from mlx_vector_db_spark.queries import QUERIES

        spark = self.spark
        docs = corpus.df(spark)
        cur = rec.op("corpus.curation", "bulk", "pipeline",
                     lambda: QUERIES["curation_pipeline"](spark, corpus.dir),
                     lambda df: df.select("doc_id", "lang_pred", "n_tokens",
                                          "stopword_ratio", "n_bpe_tokens").collect())
        if cur is None:
            return
        rows = [tuple(r) for r in cur]
        rec.verdict("corpus.curation", [rec.check(
            "curation_oracle", G.same_rows, rows, corpus.oracle_rows(),
            corrupt=lambda g, o: (G.drop_last(g), o),
        )])
        curated = sorted(r[0] for r in rows)
        cur_df = spark.createDataFrame([(d,) for d in curated], "doc_id long")
        kept_docs = docs.join(cur_df, "doc_id", "left_semi")
        surv = rec.op("dedup.minhash_dedup", "bulk", "pipeline",
                      lambda: minhash_dedup(kept_docs, text_col="text", id_col="doc_id",
                                            **MINHASH),
                      lambda df: [int(r[0]) for r in df.select("doc_id").collect()])
        if surv is None:
            return
        survivors, inputs = set(surv), set(curated)
        shingles = corpus.shingles(inputs)
        self.record_twins(corpus, survivors, inputs)
        rec.verdict("dedup.minhash_dedup", [
            rec.check("removed_are_near_dups", G.removed_are_near_dups,
                      inputs - survivors, shingles, MINHASH["threshold"],
                      corrupt=lambda r, s, t: (set(s), s, t)),
            rec.check("twin_recall_floor", _twin_floor, survivors, corpus.twins, inputs,
                      corrupt=lambda s, p, i: (s | {t for _, t in p}, p, i)),
            rec.check("survivors_subset", G.subset_of, survivors, inputs,
                      corrupt=lambda s, c: (s | {-1}, c)),
        ])
        self.passes += 1
        store = self.catalog.create_store(
            "bench", f"pass{self.passes}", dimension=DIM, metric="cosine",
            promoted_keys=CHUNK_KEYS)
        pipe = TextPipeline(store)
        surv_df = spark.createDataFrame([(d,) for d in sorted(survivors)], "doc_id long")
        n_chunks = rec.op("pipeline.index_documents", "bulk", "write",
                          lambda: pipe.index_documents(docs.join(surv_df, "doc_id", "left_semi")))
        if n_chunks is None:
            return
        self.store, self.pipe, self.n_chunks = store, pipe, n_chunks
        # the brute-force truth over the chunk store, for recall and rank-1
        chunks = store.to_df().select("id", "embedding", "chunk_text").collect()
        self.chunk_ids = np.array([int(r["id"]) for r in chunks], dtype=np.int64)
        self.chunk_x = np.array([r["embedding"] for r in chunks], dtype=np.float32)
        self.chunk_texts = [r["chunk_text"] for r in chunks]

    def record_twins(self, corpus: Corpus, survivors: set[int], inputs: set[int]) -> None:
        """Twin recall of this corpus's latest dedup, and for each twin
        that survived: its Jaccard to its original and the chance that
        MinHash LSH with independent hash functions misses such a pair,
        (1 - J^rows)^bands."""
        recall, counted, kept = G.twin_recall(survivors, corpus.twins, inputs)
        rows = MINHASH["num_hashes"] // MINHASH["bands"]
        orig = {t: o for o, t in corpus.twins}
        missed = []
        for t in kept:
            j = G.jaccard(*corpus.shingles((orig[t], t)).values())
            missed.append({"twin": t, "original": orig[t], "jaccard": round(j, 4),
                           "ideal_miss_p": (1.0 - j ** rows) ** MINHASH["bands"]})
        self.dedup[os.path.basename(corpus.dir)] = {
            "twin_recall": recall, "twins": counted, "missed": missed}

    def retrieve(self, rec: Recorder, count: int) -> None:
        """Queries are indexed chunks' own texts: each must retrieve its
        source chunk first."""
        n = len(self.chunk_ids)
        for j in self.rng.choice(n, min(count, n), replace=False):
            text, src = self.chunk_texts[j], int(self.chunk_ids[j])
            rows = rec.op(
                "rag.retrieve_context", "query", "query",
                lambda: self.pipe.retrieve_context(text, k=K, min_similarity=0.0,
                                                   max_context_length=10**6),
                lambda df: df.select("id", "similarity").orderBy("context_rank").collect(),
            )
            if rows is None:
                continue
            got, scores = _ids_scores(rows)
            qv = self.pipe.encoder([text])[0]
            truth, _ = G.topk_truth(self.chunk_ids, G.cosine_scores(self.chunk_x, qv), K)
            self.recall.append(G.recall(got, truth))
            rec.verdict("rag.retrieve_context", [rec.check(
                "retrieval_rank1", G.rank1, got, scores, src,
                corrupt=lambda g, s, w: (G.swap_first_last(g), s, w),
            )])

    def finish(self, rec: Recorder) -> dict:
        # per-step medians over the passes (each pass indexes the same
        # chunks): one slow call does not move the rates
        t = rec.by_name
        index_ms = median(t.get("pipeline.index_documents", []))
        return {
            "write_p50_ms": index_ms,
            "throughput": self.main.n_docs / sum(median(t.get(n, [])) for n in STEPS) * 1000.0,
            "throughput_is": f"corpus_docs_per_s over {self.main.n_docs} documents",
            "ingest_vps": self.n_chunks / index_ms * 1000.0,
            "rows": self.n_chunks,
            "dedup": self.dedup,
            **store_footprint(self.store, self.n_chunks),
        }


def _twin_floor(survivors: set[int], pairs, inputs: set[int]) -> str | None:
    return G.recall_floor(G.twin_recall(survivors, pairs, inputs)[0], TWIN_RECALL_FLOOR)


WORKLOADS = {w.name: w for w in (ServeMixed, CorpusPipeline)}

#: full sizes fit the whole run (JVM start, set-up, measurement) in well
#: under a minute on a 4-core host; smoke sizes only prove the plumbing
SIZES = {
    "serve_mixed": {
        "full": {"rows": 8_000, "nlist": 16, "batch": 256,
                 "add": 500, "upsert": 100, "delete": 50},
        "smoke": {"rows": 2_000, "nlist": 8, "batch": 16,
                  "add": 50, "upsert": 10, "delete": 5},
    },
    "corpus_pipeline": {
        "full": {"docs": 2_000, "warm_docs": 600, "queries": 5},
        "smoke": {"docs": 300, "warm_docs": 100, "queries": 1},
    },
}
