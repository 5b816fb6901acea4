"""The benchmark's workloads, run through the package's public
functions.

Each workload has a set-up (state built through the package, timed as
part of ``setup_s``) and a unit op. An op is timed from its first call
into the package until its outputs are fully materialized, either by
collecting a bounded result or through the ``noop`` sink, never by
``count()``. The check of an op's outputs runs after the timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from rag_system_vector_db_spark.operators import ann, chunking, dedup, embedding, knn, rag, text_analysis
from rag_system_vector_db_spark.operators.vector_store import VectorCollection
from rag_system_vector_db_spark.sources.jsonl import read_jsonl_docs

import gen
import refs
from tracing import planning_ms

KMEANS_K = 16
KMEANS_ITERS = 2
NPROBE = 3
TOP_K = 10
LSH_MAX_BUCKET = 50
JACCARD_T = 0.8

CHUNK_KEY = f"doc_id * {gen.KEY_DOC} + day_id * {gen.KEY_DAY} + chunk_id + 1 AS id"
ENTITY_SCHEMA = "id long, doc_id long, text string"


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect(T, name: str, df) -> list:
    """Collect a bounded result inside span ``<name>.exec``; in a traced
    run also record the Catalyst phases of the query that ran."""
    with T.span(f"{name}.exec"):
        rows = df.collect()
    if T.active:
        T.add_sample(f"{name}.planning_ms", planning_ms(df))
    return rows


def embed_entities(df):
    return embedding.embed_documents(df, text_col="text", out_col="vector").select(
        "id", "vector", "text", "doc_id"
    )


def read_layout(path: str):
    """Rows of a parquet directory the package wrote (read with pyarrow,
    so the check never goes through the code under test)."""
    return pads.dataset(path, format="parquet", partitioning="hive").to_table()


def dir_stats(path: str) -> tuple[int, int]:
    files, size = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return files, size


def resolved(path: str) -> dict[int, dict]:
    """Latest-batch row per id of a collection's data directory."""
    t = read_layout(os.path.join(path, "data")).to_pydict()
    out: dict[int, dict] = {}
    for i in range(len(t["id"])):
        r = {k: t[k][i] for k in t}
        cur = out.get(r["id"])
        if cur is None or r["_batch"] > cur["_batch"]:
            out[r["id"]] = r
    return out


class Ctx:
    """What every workload gets: the session, tracer, a scratch dir
    inside the checkout, and the op log."""

    def __init__(self, spark, tracer, work: str, inputs: str, seed: int, seconds: float):
        self.spark, self.tracer, self.work, self.inputs = spark, tracer, work, inputs
        self.seed, self.seconds = seed, seconds
        # end-to-end figures come from untraced ops; in a traced run
        # those are the "untraced" phase, followed by a "traced" phase
        self.phase = "untraced" if tracer.enabled else "measure"
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.extra: dict[str, float] = {}
        self.setup_times: list[float] = []
        self.gen_s = 0.0
        self._dirs = 0

    def generate(self, fn, *args):
        """Call a generator function; its time is kept out of set-up."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.gen_s += time.perf_counter() - t0

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        p = os.path.join(self.work, f"{tag}-{self._dirs}")
        shutil.rmtree(p, ignore_errors=True)
        return p

    def op(self, kind: str, work, phase: str) -> dict:
        """Run one op. ``work`` does the timed part and returns a check
        callable giving a list of problems. Spans are recorded only in
        the traced phase."""
        if phase != "traced":
            with self.tracer.paused():
                return self._op(kind, work, phase)
        return self._op(kind, work, phase)

    def _op(self, kind: str, work, phase: str) -> dict:
        rec = {"kind": kind, "phase": phase, "ok": True, "parts": {}}
        self.tracer.op_id = len(self.ops)
        self.current = rec
        t0 = time.perf_counter()
        try:
            check = work()
            rec["s"] = time.perf_counter() - t0
            problems = check()
        except Exception as e:  # noqa: BLE001 - an op boundary: record and go on
            rec.setdefault("s", time.perf_counter() - t0)
            problems = [f"{type(e).__name__}: {(str(e).strip().splitlines() or [''])[0][:300]}"]
        self.tracer.op_id = -1
        if problems:
            rec["ok"] = False
            self.failures.append(f"{kind}: {problems[0]}")
        self.ops.append(rec)
        return rec

    def measured(self) -> list[dict]:
        return [o for o in self.ops if o["phase"] == self.phase]

    def times(self) -> list[float]:
        return [o["s"] for o in self.measured()]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# --------------------------------------------------------------- diaries


def diary_entities(spark, path: str, T):
    """Diary JSONL -> (docs, corrupt, embedded chunk entities)."""
    with T.span("sources.read.build"):
        docs, corrupt = read_jsonl_docs(spark, path)
    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("line_no", "line")
    )
    with T.span("chunking.build"):
        chunks = chunking.chunk_diary(lines)
    with T.span("embedding.build"):
        ents = embed_entities(chunks.select(F.expr(CHUNK_KEY), "doc_id", F.col("chunk_text").alias("text")))
    return docs, corrupt, chunks, ents


def check_chunks(coll_path: str, corpus: dict, upserts: dict[int, str]) -> list[str]:
    rows = resolved(coll_path)
    want = {c["key"]: c["text"] for cs in corpus["chunks"].values() for c in cs}
    want.update(upserts)
    problems = []
    if set(rows) != set(want):
        problems.append(f"chunk keys: {len(set(want) - set(rows))} missing, {len(set(rows) - set(want))} extra")
    bad = [k for k in want if k in rows and rows[k]["text"] != want[k]]
    if bad:
        problems.append(f"{len(bad)} chunk texts differ, e.g. key {bad[0]}")
    return problems


# ------------------------------------------------ ingest (batch_query set-up)


def ingest_op(ctx: Ctx, corpus: dict, ups: list, state: dict):
    """The write and index-build path: diary JSONL -> chunks -> embedded
    entities -> collection (initial batch + upsert batch) -> compact ->
    k-means -> IVF layout. Returns the op's work callable; each call
    builds a fresh collection and index and leaves them in ``state``."""
    spark, T = ctx.spark, ctx.tracer
    n_chunks = sum(len(v) for v in corpus["chunks"].values())

    def work():
        coll_dir = ctx.fresh_dir("coll")
        index_dir = ctx.fresh_dir("ivf")
        docs, corrupt, chunks, ents = diary_entities(spark, corpus["path"], T)
        if T.active:
            with T.span("sources.read.exec"):
                materialize(docs)
            with T.span("chunking.exec"):
                materialize(chunks)
        with T.span("sources.corrupt.exec"):
            bad_lines = corrupt.collect()
        coll = VectorCollection.create(spark, coll_dir, dimension=embedding.DIM)
        with T.span("vector_store.insert"):
            coll.insert(ents)
        up = embed_entities(spark.createDataFrame(ups, ENTITY_SCHEMA))
        with T.span("vector_store.insert"):
            coll.insert(up)
        raw_rows = read_layout(os.path.join(coll_dir, "data")).num_rows
        with T.span("vector_store.compact"):
            coll.compact()
        with T.span("ann.kmeans_fit"):
            cents = ann.kmeans_fit(coll.df(), k=KMEANS_K, n_iter=KMEANS_ITERS, id_col="id", vec_col="vector")
        with T.span("ann.ivf_index_build.exec"):
            ann.ivf_index_build(coll.df(), cents, index_dir, id_col="id", vec_col="vector")
        state.update(coll=coll, index_dir=index_dir, cents=cents, raw_rows=raw_rows)

        def check():
            p = []
            if len(bad_lines) != corpus["malformed"]:
                p.append(f"corrupt rows {len(bad_lines)} != {corpus['malformed']}")
            p += check_chunks(coll_dir, corpus, {k: t for k, _, t in ups})
            st = coll.stats()
            if st["rowCount"] != n_chunks:
                p.append(f"stats rowCount {st['rowCount']} != {n_chunks}")
            t = read_layout(os.path.join(coll_dir, "data")).to_pydict()
            if len(set(t["id"])) != len(t["id"]):
                p.append("duplicate primary keys after compact")
            return p + check_index(index_dir, cents, n_chunks)

        return check

    return work


def check_index(index_dir: str, cents, n: int) -> list[str]:
    """Every chunk is in the index once, in its nearest cell."""
    t = read_layout(index_dir).to_pydict()
    if len(t["id"]) != n or len(set(t["id"])) != n:
        return [f"index has {len(t['id'])} rows / {len(set(t['id']))} ids, want {n}"]
    mat = np.array(t["vector"], dtype=np.float64)
    c = np.array(cents, dtype=np.float64)
    d = np.sqrt(((mat[:, None, :] - c[None, :, :]) ** 2).sum(axis=2))
    got = d[np.arange(len(mat)), np.array(t["cell"], dtype=int)]
    if np.any(got > d.min(axis=1) + 1e-9):
        return ["index row not in its nearest cell"]
    return []


# ----------------------------------------------------------- batch_query


def batch_query(ctx: Ctx) -> dict:
    spark, T = ctx.spark, ctx.tracer
    corpus = ctx.generate(gen.diaries, ctx.inputs, ctx.seed)
    ups = ctx.generate(gen.upserts, corpus, ctx.seed)
    qa = ctx.generate(gen.questions, corpus, ctx.seed)
    state: dict = {}
    build = ingest_op(ctx, corpus, ups, state)
    # the ingest path is batch_query's set-up; it runs once (cold),
    # because a second run does not fit the benchmark's time budget
    ctx.setup_times.append(ctx.op("ingest", build, "setup")["s"])
    coll, index_dir, cents = state["coll"], state["index_dir"], state["cents"]
    n_chunks = sum(len(v) for v in corpus["chunks"].values())
    files_c, bytes_c = dir_stats(coll.path)
    _, bytes_i = dir_stats(index_dir)

    # references
    rows = resolved(coll.path)
    ids = np.array(sorted(rows), dtype=np.int64)
    mat = np.array([rows[i]["vector"] for i in ids], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    qv = {q["query_id"]: embedding.embed_text_py(q["question"]).astype(np.float64) for q in qa}
    exact = {qid: refs.cosine_scores(mat, norms, v) for qid, v in qv.items()}
    exact_top = {qid: refs.topk_ids(ids, s, TOP_K) for qid, s in exact.items()}
    c = np.array(cents, dtype=np.float64)
    layout_cells = np.array(read_layout(index_dir).column("cell").to_pylist(), dtype=int)
    cell_size = np.bincount(layout_cells, minlength=KMEANS_K)
    cell_of = refs.nearest_cell(mat, c)
    probes = {qid: refs.probe_cells(v, c, NPROBE) for qid, v in qv.items()}
    qa_df = spark.createDataFrame(
        [(q["query_id"], q["question"], q["expected_id"]) for q in qa],
        "query_id long, question string, expected_id long",
    )
    corpus_df = coll.df().select("id", "vector")
    metrics: dict[str, list] = {"hit": [], "rr": [], "recall": []}

    def queries():
        return embedding.embed_documents(qa_df, text_col="question", out_col="query_vec")

    def eval_op():
        q = queries()
        with T.span("knn.topk_batch.build"):
            top = knn.topk_batch(corpus_df, q.select("query_id", "query_vec"), k=TOP_K, id_col="id", vec_col="vector")
        top_rows = collect(T, "knn.topk_batch", top)
        with T.span("rag.eval.build"):
            ev = rag.eval_retrieval(corpus_df, q, k=TOP_K, id_col="id", vec_col="vector")
        ev_rows = collect(T, "rag.eval", ev)

        def check():
            p = []
            got: dict[int, list] = {}
            for r in sorted(top_rows, key=lambda r: (r["query_id"], r["rank"])):
                got.setdefault(r["query_id"], []).append((r["id"], r["score"]))
            for q in qa:
                why = refs.check_topk(got.get(q["query_id"], []), ids, exact[q["query_id"]], TOP_K)
                if why:
                    p.append(f"exact top-{TOP_K} q{q['query_id']}: {why}")
            by_q = {r["query_id"]: r for r in ev_rows}
            hits, rrs = [], []
            for q in qa:
                r = by_q.get(q["query_id"])
                ref = exact_top[q["query_id"]]
                want = ref.index(q["expected_id"]) + 1 if q["expected_id"] in ref else None
                if r is None:
                    p.append(f"eval q{q['query_id']} missing")
                    continue
                if r["hit_rank"] != want and not _tied(exact[q["query_id"]], ids, r["hit_rank"], want, ref):
                    p.append(f"eval q{q['query_id']} hit_rank {r['hit_rank']} != {want}")
                hits.append(r["hit_rank"] is not None)
                rrs.append(r["grade"])
            metrics["hit"].append(float(np.mean(hits)))
            metrics["rr"].append(float(np.mean(rrs)))
            return p

        return check

    def ivf_op():
        q = queries()
        with T.span("ann.ivf_search.build"):
            res = ann.ann_ivf_indexed_topk(
                spark, index_dir, q.select("query_id", "query_vec"), cents, k=TOP_K,
                nprobe=NPROBE, id_col="id", vec_col="vector",
            )
        rows_ = collect(T, "ann.ivf_search", res)

        def check():
            p = []
            got: dict[int, list] = {}
            for r in sorted(rows_, key=lambda r: (r["query_id"], r["rank"])):
                got.setdefault(r["query_id"], []).append((r["id"], r["score"]))
            rec = []
            for q in qa:
                qid = q["query_id"]
                mask = np.isin(cell_of, probes[qid])
                why = refs.check_topk(got.get(qid, []), ids[mask], exact[qid][mask], TOP_K)
                if why:
                    p.append(f"ivf top-{TOP_K} q{qid}: {why}")
                rec.append(len({i for i, _ in got.get(qid, [])} & set(exact_top[qid])) / TOP_K)
            metrics["recall"].append(float(np.mean(rec)))
            return p

        return check

    def batch_op():
        """One question batch: exact eval path, then the IVF path."""
        t0 = time.perf_counter()
        check_eval = eval_op()
        t1 = time.perf_counter()
        check_ivf = ivf_op()
        ctx.current["parts"] = {"eval": t1 - t0, "ivf": time.perf_counter() - t1}
        return lambda: check_eval() + check_ivf()

    ctx.op("batch", batch_op, "warmup")
    measure_loop(ctx, "batch", batch_op)
    if T.enabled:  # the ingest path's layer split, from one warm traced build
        ctx.op("ingest", build, "traced")
    n, nq = len(ids), len(qa)
    eval_s = median([o["parts"]["eval"] for o in ctx.measured()])
    ivf_s = median([o["parts"]["ivf"] for o in ctx.measured()])
    probed = [cell_size[probes[q["query_id"]]].sum() / n for q in qa]
    ctx.extra.update({
        "eval_queries_per_s": nq / eval_s,
        "ivf_queries_per_s": nq / ivf_s,
        "ivf_recall_at_10": median(metrics["recall"]),
        "rag.hit_at_10": median(metrics["hit"]),
        "rag.mrr_at_10": median(metrics["rr"]),
        "knn.pairs_scored": nq * n,
        "ann.ivf_rows_probed_frac": float(np.mean(probed)),
        "ann.ivf_cell_max_over_mean": float(cell_size.max() / cell_size.mean()),
        "ingest_chunks_per_s": n_chunks / median(ctx.setup_times),
        "store_bytes_per_input_byte": (bytes_c + bytes_i) / corpus["raw_text_bytes"],
        "sources.corrupt_rows": corpus["malformed"],
        "chunking.chunks_per_doc": n_chunks / len(corpus["chunks"]),
        "vector_store.data_files": files_c,
        "vector_store.bytes_on_disk": bytes_c,
        "vector_store.raw_rows_per_live_row": state["raw_rows"] / n_chunks,
    })
    return {"items": nq}


def _tied(scores, ids, got_rank, want_rank, ref) -> bool:
    """A hit rank that differs from the reference only through an exact
    score tie is not an error."""
    if got_rank is None or want_rank is None or got_rank > len(ref):
        return False
    pos = {int(i): j for j, i in enumerate(ids)}
    return abs(scores[pos[ref[got_rank - 1]]] - scores[pos[ref[want_rank - 1]]]) <= refs.SCORE_TOL


# ----------------------------------------------------------------- dedup


def dedup_pipeline(ctx: Ctx) -> dict:
    spark, T = ctx.spark, ctx.tracer
    nd = ctx.generate(gen.near_dups, ctx.inputs, ctx.seed)
    ctx.setup_times.append(0.0)  # no prepared state beyond the session
    texts = dict(enumerate(nd["texts"]))
    keeper = refs.exact_groups(texts)
    survivors = {i: t for i, t in texts.items() if keeper[i] == i}
    ref_lsh = refs.minhash_lsh_pairs(survivors, max_bucket=LSH_MAX_BUCKET)
    ref_jac = refs.jaccard_pairs(survivors, JACCARD_T)
    ref_cc = refs.components(ref_jac)
    planted = {tuple(sorted(p)) for ch in nd["chains"] for p in zip(ch, ch[1:])}
    funnel: dict[str, list] = {"cand": [], "recall": [], "precision": [], "verified": []}

    def one_pass():
        with T.span("sources.read.build"):
            docs, _ = read_jsonl_docs(spark, nd["path"])
        with T.span("text_analysis.normalize.build"):
            norm = text_analysis.normalize_text(docs)
        if T.active:
            with T.span("text_analysis.normalize.exec"):
                materialize(norm)
        with T.span("dedup.exact.build"):
            ex = dedup.dedup_exact(norm, text_col="norm_hash")
        ex_rows = collect(T, "dedup.exact", ex)
        keep = sorted(r["doc_id"] for r in ex_rows if not r["is_dup"])
        surv = docs.filter(F.col("doc_id").isin(keep))
        with T.span("dedup.minhash_lsh.build"):
            lsh = dedup.dedup_minhash_lsh(surv, max_bucket=LSH_MAX_BUCKET)
        lsh_rows = collect(T, "dedup.minhash_lsh", lsh)
        with T.span("dedup.jaccard.build"):
            jac = dedup.dedup_ngram_jaccard(surv, threshold=JACCARD_T)
        jac_rows = collect(T, "dedup.jaccard", jac)
        pairs = spark.createDataFrame([(r["doc_a"], r["doc_b"]) for r in jac_rows], "doc_a long, doc_b long")
        with T.span("dedup.cluster"):
            cc_rows = dedup.dedup_cluster(pairs).collect()
        plans = {"exact": ex, "minhash_lsh": lsh, "jaccard": jac}

        def check():
            p = []
            got_keep = {r["doc_id"]: r["keeper_id"] for r in ex_rows}
            if got_keep != keeper:
                p.append("exact keepers differ from reference")
            got_lsh = {(r["doc_a"], r["doc_b"]): r["n_shared_bands"] for r in lsh_rows}
            if got_lsh != ref_lsh:
                p.append(f"lsh candidates {len(got_lsh)} differ from reference {len(ref_lsh)}")
            got_jac = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jac_rows}
            if set(got_jac) != set(ref_jac):
                p.append(f"jaccard pairs {len(got_jac)} differ from reference {len(ref_jac)}")
            elif any(abs(got_jac[k] - ref_jac[k]) > 1e-6 for k in got_jac):
                p.append("jaccard values differ from reference")
            if not planted <= set(got_jac):
                p.append(f"{len(planted - set(got_jac))} planted chain pairs not found")
            got_cc = {r["node"]: r["cluster_id"] for r in cc_rows}
            if got_cc != ref_cc:
                p.append("clusters differ from union-find reference")
            p += guard_plans(plans)
            verified = set(got_lsh) & set(ref_jac)
            funnel["cand"].append(len(got_lsh))
            funnel["verified"].append(len(got_jac))
            funnel["recall"].append(len(planted & set(got_lsh)) / len(planted))
            funnel["precision"].append(len(verified) / max(1, len(got_lsh)))
            return p

        return check

    # two warm-up passes: after one, pass times still fell 7.6 -> 6.4 -> 5.9 s
    for _ in range(2):
        ctx.op("dedup", one_pass, "warmup")
    measure_loop(ctx, "dedup", one_pass)
    pass_s = median(ctx.times())
    ctx.extra.update({
        "dedup_docs_per_s": len(texts) / pass_s,
        "dedup.lsh_candidates": median(funnel["cand"]),
        "dedup.lsh_planted_recall": median(funnel["recall"]),
        "dedup.lsh_precision": median(funnel["precision"]),
        "dedup.verified_pairs": median(funnel["verified"]),
    })
    return {"items": len(texts)}


GUARDED = {
    "exact": ("md5", "regexp_replace"),
    "minhash_lsh": ("md5",),
    "jaccard": ("md5",),
}


def guard_plans(plans: dict) -> list[str]:
    """Full-materialization guard: the executed plan of each collected
    dedup / text_analysis op must still contain its md5 and regexp
    expressions, so column pruning can never time an empty plan."""
    p = []
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        for expr in GUARDED[name]:
            if expr + "(" not in plan:
                p.append(f"executed plan of {name} lost {expr}")
    return p


# ------------------------------------------------------------------ loop


def measure_loop(ctx: Ctx, kind: str, fn) -> None:
    """Closed loop, one client: run the op back to back until
    ``ctx.seconds`` of wall time have passed, finishing the op in
    progress. A traced run then repeats it once with spans on."""
    deadline = time.perf_counter() + ctx.seconds
    while True:
        ctx.op(kind, fn, ctx.phase)
        if time.perf_counter() >= deadline:
            break
    if ctx.tracer.enabled:
        ctx.op(kind, fn, "traced")


WORKLOADS = {
    "batch_query": batch_query,
    "dedup": dedup_pipeline,
}
