"""The ``llm_prep`` workload: the Arrow-batched Python operators over
documents and embeddings read from Iceberg tables.

The corpus is generated from the seed with planted structure, so every
answer has an independent reference: exact duplicates (whitespace and
case variants), near duplicates (one word replaced in a 60+ word
document, Jaccard >= 0.9 on 3-word shingles), documents that quote an
evaluation passage, and query vectors that sit next to one corpus vector.
Exact dedup, contamination, chunking and cosine top-k are recomputed in
plain Python/NumPy; MinHash-LSH is checked against the planted clusters;
PQ top-k against the planted neighbour; BM25 index search against the
engine's index-free ``bm25_topk`` computed once in set-up.
"""

from __future__ import annotations

import os
import re

import numpy as np

from common import Workload, expect, op

DOCS_SCHEMA = "doc_id long, text string"
KINDS = ["exact_dedup", "minhash_lsh_dedup", "contamination", "chunk_documents",
         "cosine_topk", "pq_topk", "bm25_search"]
QUERY_SETS = 4


def make_vocab(rng, n: int, letters: str) -> list[str]:
    alphabet = np.array(list(letters))
    words: set[str] = set()
    while len(words) < n:
        ln = int(rng.integers(3, 9))
        words.add("".join(rng.choice(alphabet, ln)))
    return sorted(words)


def make_corpus(rng, n_docs: int):
    """Documents plus the labels the reference answers need."""
    vocab = make_vocab(rng, 4000, "abcdefghijklmnop")
    eval_vocab = make_vocab(rng, 800, "qrstuvwxyz")
    bench = [" ".join(rng.choice(eval_vocab, int(rng.integers(30, 50))))
             for _ in range(40)]
    texts: list[str] = []
    # LSH cluster of each doc: its base doc's id, or -1 - base for the
    # upper-cased copies of a base (identical to each other only)
    cluster: list[int] = []
    bases: list[int] = []
    for i in range(n_docs):
        r = rng.random()
        if bases and r < 0.05:  # whitespace variant: same words
            b = bases[int(rng.integers(len(bases)))]
            w = texts[b].split(" ")
            texts.append("  " + "  ".join(w[:5]) + " \t" + " ".join(w[5:]) + " ")
            cluster.append(b)
        elif bases and r < 0.10:  # case variant: exact dup, disjoint shingles
            b = bases[int(rng.integers(len(bases)))]
            texts.append(texts[b].upper())
            cluster.append(-1 - b)  # shared by all case variants of b
        elif bases and r < 0.20:  # near duplicate: one word replaced
            b = bases[int(rng.integers(len(bases)))]
            w = texts[b].split(" ")
            w[int(rng.integers(len(w)))] = str(rng.choice(vocab))
            texts.append(" ".join(w))
            cluster.append(b)
        else:
            w = list(rng.choice(vocab, int(rng.integers(60, 120))))
            if r > 0.90:  # quotes an evaluation passage
                src = bench[int(rng.integers(len(bench)))].split(" ")
                at = int(rng.integers(0, len(src) - 8))
                pos = int(rng.integers(0, len(w)))
                w[pos:pos] = src[at:at + 8]
            texts.append(" ".join(w))
            cluster.append(i)
            bases.append(i)
    return texts, cluster, bench


def grams(text: str, n: int) -> set[str]:
    w = text.lower().split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def norm_key(text: str) -> str:
    return re.sub(r"\s+", " ", text).strip().lower()


class LlmPrep(Workload):
    """Seeded mix of the data-preparation operators, each on a slice of
    the corpus read through an Iceberg scan and ended by a collect."""

    name = "llm_prep"
    kinds = KINDS

    def __init__(self, spark, work: str, scale: float):
        super().__init__(spark, work, scale)
        self.docs = max(int(1500 * scale), 120)
        self.vecs = max(int(1200 * scale), 120)
        self.dim = 32
        self._inputs: dict = {}

    # -- inputs -----------------------------------------------------------
    def op_list(self, seed: int, n_cycles: int):
        rng = np.random.default_rng([seed, 5])
        n = self.docs
        cycles = []
        for _ in range(n_cycles):
            def sl():
                # same amount of work in every run; which documents varies
                width = int(n * 0.8)
                lo = int(rng.integers(0, n - width + 1))
                return {"lo": lo, "hi": lo + width}

            ops = [op("exact_dedup", "operator", **sl()),
                   op("minhash_lsh_dedup", "operator", **sl()),
                   op("contamination", "operator", **sl()),
                   op("chunk_documents", "operator", chunk=400,
                      overlap=int(rng.choice([0, 50, 100])), **sl()),
                   op("cosine_topk", "operator", qset=int(rng.integers(QUERY_SETS))),
                   op("pq_topk", "operator", qset=int(rng.integers(QUERY_SETS))),
                   op("bm25_search", "operator", qset=int(rng.integers(QUERY_SETS)))]
            cycles.append(ops)
        return cycles

    # -- set-up -----------------------------------------------------------
    def setup(self, seed: int, rep: int):
        import pandas as pd

        from iceberg_cpp_spark import IceTable
        from iceberg_cpp_spark.core.types import schema_from_spark
        from iceberg_cpp_spark.operators import retrieval
        from iceberg_cpp_spark.operators import similarity as sim

        spark = self.spark
        root = os.path.join(self.work, f"llm_prep{rep}")
        inp = self.inputs(seed)
        texts, vecs = inp["texts"], inp["vecs"]
        ddf = spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}),
            DOCS_SCHEMA)
        docs = IceTable.create(spark, os.path.join(root, "documents"),
                               schema_from_spark(ddf.schema))
        docs = docs.append(ddf)

        edf = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(self.vecs, dtype=np.int64),
                          "embedding": list(vecs)}),
            "vec_id long, embedding array<double>")
        books = sim.train_pq(edf, m=8, nbits=4)
        enc = sim.pq_encode(edf, books)
        emb = IceTable.create(spark, os.path.join(root, "embeddings"),
                              schema_from_spark(enc.schema))
        emb = emb.append(enc)

        index = retrieval.Bm25Index.build(spark, os.path.join(root, "bm25"),
                                          docs.to_df())
        return {
            "root": root, "docs": docs, "emb": emb, "index": index, "books": books,
            "bench_df": spark.createDataFrame(
                [(i, t) for i, t in enumerate(inp["bench"])], DOCS_SCHEMA),
            **inp, "corrupt": False}

    def inputs(self, seed: int) -> dict:
        """The generated corpus, vectors and query pools, made once per
        seed so that repeated set-ups time only the tables and indexes."""
        if self._inputs.get("seed") == seed:
            return self._inputs["inputs"]
        rng = np.random.default_rng([seed, 6])
        texts, cluster, bench = make_corpus(rng, self.docs)
        vecs = rng.standard_normal((self.vecs, self.dim))
        # query pools: vectors next to a planted corpus vector, and short
        # keyword queries drawn from corpus documents
        qsets, planted = [], []
        for _ in range(QUERY_SETS):
            idx = rng.choice(self.vecs, 6, replace=False)
            q = vecs[idx] + 0.01 * rng.standard_normal((6, self.dim))
            qsets.append(q)
            planted.append([int(i) for i in idx])
        ktexts = []
        for s in range(QUERY_SETS):
            for j in range(4):
                w = texts[int(rng.integers(len(texts)))].lower().split()
                ktexts.append((s * 10 + j, " ".join(rng.choice(w, 3))))
        inp = {"texts": texts, "cluster": cluster, "bench": bench, "vecs": vecs,
               "bench_grams": set().union(*(grams(t, 4) for t in bench)),
               "qsets": qsets, "planted": planted, "ktexts": ktexts}
        self._inputs = {"seed": seed, "inputs": inp}
        return inp

    def prepare(self, st) -> None:
        """BM25 reference answers, once per seed: the index-free
        ``bm25_topk`` over the generated documents."""
        import pandas as pd

        if "bm25_want" in self._inputs:
            st["bm25_want"] = self._inputs["bm25_want"]
            return

        from iceberg_cpp_spark.operators import retrieval

        ddf = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(len(st["texts"]), dtype=np.int64),
                          "text": st["texts"]}), DOCS_SCHEMA)
        kdf = self.spark.createDataFrame(st["ktexts"], "query_id long, query_text string")
        want: dict[int, list] = {s: [] for s in range(QUERY_SETS)}
        for r in retrieval.bm25_topk(ddf, kdf, k=5).select(
                "query_id", "doc_id", "rank").collect():
            want[r[0] // 10].append(tuple(r))
        st["bm25_want"] = self._inputs["bm25_want"] = {
            s: sorted(v) for s, v in want.items()}

    def corrupt(self, st) -> None:
        st["corrupt"] = True

    # -- reference answers --------------------------------------------------
    def _exact_survivors(self, st, lo, hi) -> set:
        keep: dict[str, int] = {}
        for i in range(lo, hi):
            keep.setdefault(norm_key(st["texts"][i]), i)
        out = set(keep.values())
        if st["corrupt"]:
            out.discard(min(out))
        return out

    @staticmethod
    def _lsh_survivors(st, lo, hi) -> set:
        seen, out = set(), set()
        for i in range(lo, hi):
            c = st["cluster"][i]
            if c not in seen:
                seen.add(c)
                out.add(i)
        return out

    # -- the loop ---------------------------------------------------------
    def execute(self, st, o, timer, tr) -> None:
        from pyspark.sql import functions as F

        from iceberg_cpp_spark.operators import dedup, text
        from iceberg_cpp_spark.operators import similarity as sim
        from iceberg_cpp_spark.plans import expressions as ex

        from lake import collect, ref

        p, spark = o.p, self.spark
        fn = o.kind
        if "lo" in p:
            docs = st["docs"].scan(filter=ex.and_(
                ex.gt_eq(ref("doc_id"), p["lo"]), ex.lt(ref("doc_id"), p["hi"]))).to_df()
            tr.add(f"operators.{fn}.rows_in", p["hi"] - p["lo"])
        if fn == "exact_dedup":
            ids = {r[0] for r in collect(dedup.exact_dedup(docs).select("doc_id"), tr)}
            self._dedup_counts(tr, fn, p, len(ids))
            expect(ids, self._exact_survivors(st, p["lo"], p["hi"]), "exact dedup survivors")
        elif fn == "minhash_lsh_dedup":
            out = dedup.minhash_lsh_dedup(docs, materialize="persist")
            try:
                ids = {r[0] for r in collect(out.select("doc_id"), tr)}
            finally:
                out.release_signatures()
            self._dedup_counts(tr, fn, p, len(ids))
            expect(ids, self._lsh_survivors(st, p["lo"], p["hi"]), "minhash survivors")
        elif fn == "contamination":
            rows = collect(text.contamination(docs, st["bench_df"], n=4), tr)
            tr.add(f"operators.{fn}.rows_out", len(rows))
            bg = st["bench_grams"]
            want = {}
            for i in range(p["lo"], p["hi"]):
                hits = len(grams(st["texts"][i], 4) & bg)
                if hits:
                    want[i] = hits
            expect(dict((r[0], r[1]) for r in rows), want, "contaminated docs")
        elif fn == "chunk_documents":
            out = text.chunk_documents(docs, chunk_chars=p["chunk"],
                                       overlap_chars=p["overlap"])
            rows = collect(out.agg(F.count("*"), F.sum(F.length("chunk_text"))), tr)
            n_chunks, chars = 0, 0
            step = p["chunk"] - p["overlap"]
            for i in range(p["lo"], p["hi"]):
                t = st["texts"][i]
                starts = range(0, max(len(t) - p["overlap"] - 1, 0) + 1, step)
                n_chunks += len(starts)
                chars += sum(len(t[s:s + p["chunk"]]) for s in starts)
            tr.add(f"operators.{fn}.rows_out", rows[0][0])
            expect((rows[0][0], rows[0][1]), (n_chunks, chars), "chunk count and size")
        elif fn in ("cosine_topk", "pq_topk"):
            q = st["qsets"][p["qset"]]
            qdf = spark.createDataFrame(
                [(j, [float(x) for x in v]) for j, v in enumerate(q)],
                "query_id long, query_vec array<double>")
            corpus = st["emb"].to_df()
            tr.add(f"operators.{fn}.rows_in", len(st["vecs"]))
            if fn == "cosine_topk":
                out = sim.cosine_topk(corpus.select("vec_id", "embedding"), qdf, k=5)
            else:
                out = sim.pq_topk(corpus, st["books"], qdf, k=5, rerank_factor=4)
            rows = collect(out.select("query_id", "vec_id", "rank"), tr)
            tr.add(f"operators.{fn}.rows_out", len(rows))
            got = sorted(tuple(r) for r in rows)
            if fn == "cosine_topk":
                v = st["vecs"]
                sims = (q @ v.T) / np.outer(np.linalg.norm(q, axis=1),
                                            np.linalg.norm(v, axis=1))
                want = sorted((j, int(i), r + 1) for j in range(len(q))
                              for r, i in enumerate(
                                  np.lexsort((np.arange(len(v)), -sims[j]))[:5]))
                expect(got, want, "cosine top-k")
            else:
                firsts = sorted((j, i) for j, i, r in got if r == 1)
                expect(firsts, list(enumerate(st["planted"][p["qset"]])),
                       "pq top-1 is the planted neighbour")
                expect(len(got), 5 * len(q), "pq result rows")
        elif fn == "bm25_search":
            qdf = spark.createDataFrame(
                [t for t in st["ktexts"] if t[0] // 10 == p["qset"]],
                "query_id long, query_text string")
            tr.add(f"operators.{fn}.rows_in", 4)
            out = st["index"].search(qdf, k=5)
            rows = collect(out.select("query_id", "doc_id", "rank"), tr)
            tr.add(f"operators.{fn}.rows_out", len(rows))
            expect(sorted(tuple(r) for r in rows), st["bm25_want"][p["qset"]],
                   "bm25 top-k")
        else:
            raise ValueError(fn)

    @staticmethod
    def _dedup_counts(tr, fn, p, survivors) -> None:
        tr.add(f"operators.{fn}.rows_out", survivors)
        tr.add("dedup.rows_in", p["hi"] - p["lo"])
        tr.add("dedup.survivors", survivors)

    # -- reporting --------------------------------------------------------
    def sizes(self, st) -> dict:
        s = st["docs"].current_snapshot().summary
        return {"rows": len(st["texts"]), "vectors": len(st["vecs"]),
                "files": int(s.get("total-data-files", 0)),
                "snapshots": len(st["docs"].snapshots())}

    def tables(self, st) -> list:
        return [st["docs"], st["emb"]]
