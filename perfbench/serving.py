"""``serving``: a mixed read/write stream against the persisted layouts.

Set-up writes a seeded corpus (documents, embeddings, lineitem), then
builds and compacts the lexical and positional indexes and the
docstore, trains centroids and writes the IVF index, and writes the
z-ordered lineitem layout. The client then sends rounds of requests,
each round a seed-shuffled mix with fixed counts per type:

- reads: ``bm25_probe`` (3 vocabulary terms), ``phrase_probe`` (2
  terms), ``docstore_fetch`` (10 ids), ``ivf_index_probe`` (a corpus
  vector) and ``zordered_scan`` (random key ranges, aggregated);
- writes: ``docstore_upsert`` (copy-on-write batch of 2 updated and 2
  new documents) and ``docstore_delete`` (2 ids).

The first round runs in the fresh session; rounds repeat until the
window is spent. One operation is one round; only the calls into the
engine are timed. Outside the timed region every fetch is compared
with a client-side model of the store, every BM25, phrase and IVF
result with a reference top-k computed over the generated corpus, and
every z-order aggregate with the generated rows.
"""

from __future__ import annotations

import math
import os
import statistics

import numpy as np
import pyarrow.parquet as pq

from fixture import VOCAB, star_sizes, write_star_schema
from spans import PHASES, exec_counters, wall

SF = 0.01
N_PART = star_sizes(SF)["part"]
N_SUPP = star_sizes(SF)["supplier"]
K = 10
BUCKETS = 8
ROUND = (("bm25", 1), ("phrase", 1), ("fetch", 1), ("ivf", 1),
         ("zorder", 1), ("upsert", 1), ("delete", 1))
WRITES = ("upsert", "delete")
LAYER = {"bm25": "io.lexical.bm25_probe", "phrase": "io.lexical.phrase_probe",
         "fetch": "io.docstore.fetch", "ivf": "io.layout.ivf_probe",
         "zorder": "io.zorder.scan", "upsert": "io.docstore.upsert",
         "delete": "io.docstore.delete"}
BUILDS = ("io.lexical.build", "io.docstore.build", "io.layout.ivf_build",
          "io.zorder.build")
WARM_ROUNDS = 4   # at least; the exact counters come from these rounds
NPROBE = 2
DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, " \
             "n_chars bigint"


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Store:
    """The layouts of one set-up plus the client's model of them."""

    def __init__(self, run):
        from jcf_nb_migration_spark.functions import similarity as S
        from jcf_nb_migration_spark.functions import text as T
        from jcf_nb_migration_spark.io import docstore, lexical
        from jcf_nb_migration_spark.io.layout import ivf_index_write
        from jcf_nb_migration_spark.io.zorder import write_zordered

        spark = run.spark
        self.dir = os.path.join(run.work, "serving")
        data = os.path.join(self.dir, "data")
        write_star_schema(data, run.seed, SF,
                          tables=("documents", "embeddings", "lineitem"))
        self.lex = os.path.join(self.dir, "lex")
        self.pos = os.path.join(self.dir, "pos")
        self.ds = os.path.join(self.dir, "ds")
        self.ivf = os.path.join(self.dir, "ivf")
        self.zo = os.path.join(self.dir, "zorder")
        docs = spark.read.parquet(os.path.join(data, "documents.parquet"))
        toks = docs.select("doc_id", T.tokens("text").alias("w"))
        with run.span("io.lexical.build"):
            lexical.lexical_index_build(toks, "pb_lex", self.lex, BUCKETS)
            lexical.positional_index_build(toks, "pb_pos", self.pos, BUCKETS)
            lexical.lexical_index_compact(spark, "pb_lex", self.lex, BUCKETS)
            lexical.positional_index_compact(spark, "pb_pos", self.pos,
                                             BUCKETS)
        with run.span("io.docstore.build"):
            docstore.docstore_build(docs, "pb_ds", self.ds, BUCKETS)
            docstore.docstore_compact(spark, "pb_ds", self.ds, BUCKETS)
        emb = spark.read.parquet(os.path.join(data, "embeddings.parquet"))
        with run.span("io.layout.ivf_build"):
            self.centroids = S.kmeans_train(emb, k=8, iters=1)
            ivf_index_write(emb, self.centroids, self.ivf)
        li = spark.read.parquet(os.path.join(data, "lineitem.parquet"))
        with run.span("io.zorder.build"):
            write_zordered(li.select("l_orderkey", "l_partkey", "l_suppkey",
                                     "l_quantity"),
                           self.zo, ["l_partkey", "l_suppkey"], n_files=8)
        self.built_bytes = _tree_bytes(self.ds)

        d = pq.read_table(os.path.join(data, "documents.parquet")).to_pydict()
        self.docs = {i: (t, la, so) for i, t, la, so in zip(
            d["doc_id"], d["text"], d["lang"], d["source"])}
        self.corpus = [t.split() for t in d["text"]]
        self.ids = list(d["doc_id"])
        self.next_id = len(self.ids)
        e = pq.read_table(os.path.join(data, "embeddings.parquet"))
        self.vectors = e.column("embedding").to_pylist()
        self.unit = np.array(self.vectors, np.float64)
        self.unit /= np.linalg.norm(self.unit, axis=1, keepdims=True)
        ivf = pq.read_table(self.ivf, columns=["vec_id", "cluster"])
        self.cluster = np.empty(len(self.vectors), np.int64)
        self.cluster[ivf.column("vec_id").to_numpy()] = (
            ivf.column("cluster").to_numpy())
        li_t = pq.read_table(os.path.join(data, "lineitem.parquet"),
                             columns=["l_partkey", "l_suppkey", "l_quantity"])
        self.li = {c: li_t.column(c).to_numpy() for c in li_t.column_names}

    def bm25_reference(self, terms) -> dict[int, float]:
        """BM25 over the corpus, with the engine's formula and k1/b."""
        from jcf_nb_migration_spark.queries.retrieval_ops import (BM25_B,
                                                                  BM25_K1)

        n = len(self.corpus)
        avgdl = sum(map(len, self.corpus)) / n
        tf = [{t: toks.count(t) for t in terms} for toks in self.corpus]
        df = {t: sum(1 for x in tf if x[t]) for t in terms}
        out = {}
        for doc, (toks, x) in enumerate(zip(self.corpus, tf)):
            s = 0.0
            for t in terms:
                if x[t]:
                    idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    s += idf * x[t] * (BM25_K1 + 1.0) / (
                        x[t] + BM25_K1 * (1.0 - BM25_B
                                          + BM25_B * len(toks) / avgdl))
            if s:
                out[doc] = s
        return out

    def phrase_reference(self, phrase) -> list[tuple[int, int]]:
        """(doc_id, occurrences) of the top-k documents holding the
        two-term phrase, by occurrences, then doc_id."""
        a, b = phrase
        hits = []
        for doc, toks in enumerate(self.corpus):
            n = sum(1 for x, y in zip(toks, toks[1:]) if x == a and y == b)
            if n:
                hits.append((-n, doc))
        return [(doc, -n) for n, doc in sorted(hits)[:K]]

    def ivf_reference(self, vid: int) -> list[tuple[int, float]]:
        """(neighbor_id, cosine) of the exact top-k within the ``NPROBE``
        clusters whose centroids are nearest the probe, ``vid`` excluded."""
        q = self.unit[vid]
        cents = sorted(self.centroids)
        c = np.array([v for _, v in cents], np.float64)
        c_sim = c @ q / np.linalg.norm(c, axis=1)
        probed = [cents[i][0] for i in np.lexsort(
            ([cid for cid, _ in cents], -c_sim))[:NPROBE]]
        sim = self.unit @ q
        cand = [i for i in np.flatnonzero(np.isin(self.cluster, probed))
                if i != vid]
        top = sorted(cand, key=lambda i: (-sim[i], i))[:K]
        return [(int(i), float(sim[i])) for i in top]


def _request(run, st: Store, kind: str, rng):
    """Build one request of type ``kind`` from ``rng``; returns a
    zero-argument call into the engine and the data to check it by."""
    from pyspark.sql import functions as F

    from jcf_nb_migration_spark.io import docstore, lexical
    from jcf_nb_migration_spark.io.layout import ivf_index_probe
    from jcf_nb_migration_spark.io.zorder import zordered_scan
    from jcf_nb_migration_spark.queries.retrieval_ops import BM25_B, BM25_K1

    spark = run.spark
    if kind == "bm25":
        terms = tuple(rng.choice(VOCAB, 3, replace=False).tolist())
        return (lambda: lexical.bm25_probe(spark, "pb_lex", st.lex, terms,
                                           BM25_K1, BM25_B, k=K)), terms
    if kind == "phrase":
        phrase = tuple(rng.choice(VOCAB, 2, replace=False).tolist())
        return (lambda: lexical.phrase_probe(spark, "pb_pos", st.pos, phrase,
                                             k=K)), phrase
    if kind == "fetch":
        ids = sorted(int(i) for i in rng.choice(st.ids, 10, replace=False))
        return (lambda: docstore.docstore_fetch(spark, "pb_ds", st.ds,
                                                ids)), ids
    if kind == "ivf":
        vid = int(rng.integers(len(st.vectors)))
        return (lambda: ivf_index_probe(spark, st.ivf, st.centroids,
                                        st.vectors[vid], k=K, nprobe=NPROBE,
                                        exclude_id=vid)), vid
    if kind == "zorder":
        p0 = int(rng.integers(0, N_PART - 400))
        s0 = int(rng.integers(0, N_SUPP - 40))
        ranges = {"l_partkey": (p0, p0 + 399), "l_suppkey": (s0, s0 + 39)}
        return (lambda: zordered_scan(spark, st.zo, ranges).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("q"))), ranges
    if kind == "upsert":
        old = [int(i) for i in rng.choice(st.ids, 2, replace=False)]
        new = [st.next_id, st.next_id + 1]
        st.next_id += 2
        rows = []
        for i in old + new:
            words = rng.choice(VOCAB, int(rng.integers(8, 40))).tolist()
            text = " ".join(words)
            rows.append((i, text, "en", f"src{i % 20}", len(text)))
        return (lambda: docstore.docstore_upsert(
            spark.createDataFrame(rows, DOC_SCHEMA), "pb_ds", st.ds,
            BUCKETS)), rows
    ids = [int(i) for i in rng.choice(st.ids, 2, replace=False)]
    return (lambda: docstore.docstore_delete(spark, "pb_ds", st.ds, ids,
                                             BUCKETS)), ids


def _apply(st: Store, kind: str, arg) -> None:
    """Update the client's model after a write returned."""
    if kind == "upsert":
        for i, text, lang, src, _ in arg:
            if i not in st.docs:
                st.ids.append(i)
            st.docs[i] = (text, lang, src)
    elif kind == "delete":
        for i in arg:
            st.docs.pop(i, None)
            st.ids.remove(i)


def _check(run, st: Store, kind: str, arg, rows) -> None:
    if kind == "fetch":
        got = {r["doc_id"]: (r["text"], r["lang"], r["source"])
               for r in rows}
        want = {i: st.docs[i] for i in arg if i in st.docs}
        run.check(got == want, f"fetch {arg}: {len(got)} docs differ "
                               f"from the model")
    elif kind == "bm25":
        ref = st.bm25_reference(arg)
        kth = sorted(ref.values(), reverse=True)[:K][-1] if ref else 0.0
        ok = len(rows) == min(K, len(ref)) and all(
            abs(ref.get(r["doc_id"], -1.0) - r["bm25"]) < 1e-6
            and r["bm25"] >= kth - 1e-6 for r in rows)
        run.check(ok, f"bm25 {arg}: top-{K} differs from the reference")
    elif kind == "phrase":
        got = [(r["doc_id"], r["n_occurrences"]) for r in rows]
        run.check(got == st.phrase_reference(arg),
                  f"phrase {arg}: top-{K} differs from the reference")
    elif kind == "zorder":
        (p0, p1), (s0, s1) = arg["l_partkey"], arg["l_suppkey"]
        li = st.li
        m = ((li["l_partkey"] >= p0) & (li["l_partkey"] <= p1)
             & (li["l_suppkey"] >= s0) & (li["l_suppkey"] <= s1))
        want = (int(m.sum()), float(li["l_quantity"][m].sum()) if m.any()
                else None)
        run.check((rows[0]["n"], rows[0]["q"]) == want,
                  f"zorder {arg}: aggregate differs")
    elif kind == "ivf":
        ref = st.ivf_reference(arg)
        ok = len(rows) == len(ref) and all(
            r["neighbor_id"] == i and abs(r["cos_sim"] - c) < 1e-5
            for r, (i, c) in zip(rows, ref))
        run.check(ok, f"ivf {arg}: top-{K} differs from the reference")
    else:
        run.check(True, kind)


def _docs_dir_files(st: Store) -> dict[str, int]:
    d = os.path.join(st.ds, "docs")
    return {f: os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
            if f.endswith(".parquet")}


def run(run) -> None:
    st = Store(run)
    rng = np.random.default_rng(run.seed)
    kinds = [k for k, n in ROUND for _ in range(n)]
    lat: dict[str, list[float]] = {k: [] for k, _ in ROUND}
    amp: list[float] = []

    def one_round(warm: bool) -> None:
        for i in rng.permutation(len(kinds)):
            kind = kinds[i]
            call, arg = _request(run, st, kind, rng)
            before = (_docs_dir_files(st)
                      if kind == "upsert" and not amp else None)
            try:
                with run.timed(kind) as t, run.span("op", kind=kind) as rec:
                    out = call()
                    if kind not in WRITES:
                        run.tracer.plan_phases(rec, out)
                        out = out.collect()
            except Exception as e:  # a failing request is counted
                run.check(False, f"{kind} {arg}: {e!r}"[:300])
                continue
            if warm:
                lat[kind].append(t["wall"] * 1e3)
            if kind in WRITES:
                _apply(st, kind, arg)
            try:
                _check(run, st, kind, arg, out)
            except Exception as e:  # a malformed result is a wrong one
                run.check(False, f"{kind} {arg}: check raised {e!r}"[:300])
            if before is not None:
                after = _docs_dir_files(st)
                rewritten = sum(sz for f, sz in after.items()
                                if f not in before)
                # batch bytes: the text plus 32 for the other fields
                amp.append(rewritten / sum(len(r[1]) + 32 for r in arg))
        run.end_op()

    one_round(warm=False)
    if run.tracer.enabled:
        _read_sets(run, st)
    run.ready()
    for _ in run.window(WARM_ROUNDS):
        one_round(warm=True)
    _final_check(run, st)
    if run.tracer.enabled:
        _layers(run, st, lat, amp)


def _final_check(run, st: Store) -> None:
    """Every document a write touched reads back in its new state."""
    from jcf_nb_migration_spark.io import docstore

    touched = sorted(i for i in range(len(st.corpus), st.next_id)) + sorted(
        i for i in range(len(st.corpus)) if i not in st.docs)
    rows = docstore.docstore_fetch(run.spark, "pb_ds", st.ds,
                                   touched).collect()
    got = {r["doc_id"]: (r["text"], r["lang"], r["source"]) for r in rows}
    want = {i: st.docs[i] for i in touched if i in st.docs}
    run.check(got == want, f"after the stream {len(touched)} written ids "
                           f"read back differently")


def _read_sets(run, st: Store) -> None:
    """Files and bytes one request of each read type scans on the
    layouts as the cold round left them, drawn from a seeded stream of
    its own so that two runs of one seed touch the same files."""
    from jcf_nb_migration_spark.testing import files_touched

    rng = np.random.default_rng(run.seed + 1)
    for kind, layer in LAYER.items():
        if kind not in WRITES:
            got = files_touched(_request(run, st, kind, rng)[0]())
            run.layer[f"{layer}.files_touched"] = got["files"]
            run.layer[f"{layer}.bytes_touched"] = got["bytes"]


def _layers(run, st: Store, lat, amp) -> None:
    from jcf_nb_migration_spark.io import docstore

    tr = run.tracer
    L = run.layer
    for b in BUILDS:
        L[f"{b}_s"] = wall(tr.named(b)[0])
    per_round = sum(n for _, n in ROUND)
    steady = tr.named("op")[per_round:per_round * (1 + WARM_ROUNDS)]
    for kind, layer in LAYER.items():
        mine = [s for s in steady if s["kind"] == kind]
        L[f"{layer}_ms"] = statistics.median(lat[kind]) if lat[kind] else 0
        L[f"{layer}_jobs"] = statistics.median(
            s["jobs"] for s in mine) if mine else 0
    reads = [s for s in steady if s["kind"] not in WRITES]
    for p in PHASES:
        L[f"catalyst.{p}_ms"] = (statistics.median(s[f"{p}_ms"]
                                                   for s in reads)
                                 if reads else 0)
    exec_counters(L, steady, steady, WARM_ROUNDS)
    read_ms = [x for k in LAYER if k not in WRITES for x in lat[k]]
    write_ms = [x for k in WRITES for x in lat[k]]
    L["serving.read_p50_ms"] = statistics.median(read_ms)
    L["serving.write_p50_ms"] = statistics.median(write_ms)
    L["io.docstore.write_amp"] = amp[0] if amp else 0.0
    L["io.docstore.space_amp"] = _tree_bytes(st.ds) / st.built_bytes
    L["io.docstore.versions"] = docstore.docstore_version(st.ds) + 1
