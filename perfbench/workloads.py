"""The two workloads. Each has ``prepare`` (inputs and oracle hashes —
benchmark work, never timed into a metric), a measured phase and an
untimed correctness check of every output it produced.

* ``batch`` — the paper's release job followed by the curation surface.
  One pass = a release build (the release DAG published through the
  governed sink; tree docs and genes decorate collected), a re-release
  with a second orders version and resume on, then a curate phase
  (corpus clean publish, IVF top-k and media curate collected).
* ``serve`` — search-service reads: a closed loop of CLIENTS threads, each
  sending its next request only after the previous one returned, rows
  collected to the client; each round sends every one of the ten
  request kinds once, starting from a fresh session, so in the first
  round the per-query fixed cost (planning, code generation, scheduling)
  is paid in full and in the second it is paid warm. One unit = one
  request.

Both are cut to what one run can afford (a full evaluation makes 4 + 22
runs per workload within 57 minutes, and a third of each run is JVM
start and warm-up): the release build collects tree docs and
genes decorate instead of publishing them (a sized publish runs its plan
three or four times), leaves out the standalone ``pipeline_homologs`` and
``pipeline_obo_ontology`` outputs (the DAG's own homologs stage still
runs; ``sources`` is reached through ``pipeline_genes_decorate``), and
the curate phase keeps one entry per curation layer.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import threading
import time

import numpy as np

from checks import Ledger, oracle_hash, oracle_module, rows_hash
from datagen import Spec, generate

RELEASE_TABLES = ("region", "nation", "customer", "orders")
RELEASE_COLLECTS = ("pipeline_tree_publish", "pipeline_genes_decorate")
#: release DAG stages that read orders (directly or through an upstream
#: stage): exactly these re-run when only orders changes
RERELEASE_STAGES = ["genes", "homologs", "decorate"]
#: q03_shipping_priority and q05_regional_revenue are left out: each
#: rounds a double sum of two-decimal prices times two-decimal discounts to
#: cents, so a half-cent tie in the exact sum is common, and Spark's sum
#: (in its own order) and DuckDB's then round to different cents. On seeds
#: 1-399 this failed the oracle for q03 on 10 seeds (e.g. 73, 201) and for
#: q05 on 14 (e.g. 23, 25); summing in DECIMAL would remove the tie
SERVE_QUERIES = (
    "x_mongo_find", "x_mongo_aggregate", "x_mongo_lookup", "x_mongo_facet",
    "x_mongo_window", "x_mongo_graphlookup", "q01_pricing_summary",
    "a5_argmax_top_order", "w2_genes_between", "k7_closure_ancestors",
)
SERVE_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")
CLIENTS = 2
#: rounds every serve client plays, whatever ``--seconds`` says: the first
#: pays each query kind's first-use cost, and a single round's mean moved
#: by up to a fifth between seeds
MIN_ROUNDS = 2
CURATE_QUERIES = ("x_ivf_topk", "pipeline_media_curate")
CURATE_TABLES = ("customer", "documents", "embeddings")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker files."""
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


class Workload:
    """Shared plumbing: the run's work dir and ledger, and — once the
    session is up — ``spark`` and the tracer ``t`` (its spans are no-ops
    on threads where tracing is off)."""

    #: how a run's unit times fold into ``work_s``
    summary = staticmethod(statistics.median)

    def __init__(self, ledger: Ledger, work: str):
        self.ledger, self.work = ledger, work
        self.spark = self.t = None
        self.out = os.path.join(work, "out")
        os.makedirs(self.out, exist_ok=True)

    def catalog_df(self, name: str, sf_dir: str):
        """Build a catalog plan (span ``catalog``); when traced, force
        physical planning in its own span so plan time is separable."""
        from gramene_mongodb_spark import catalog

        df = self.t.call("catalog", name, catalog.REGISTRY[name].fn, self.spark, sf_dir)
        with self.t.span("plan", name) as sp:
            if sp is not None:
                df._jdf.queryExecution().executedPlan()
        return df


class Batch(Workload):
    """One pass: the release phase (full build, then re-release), then the
    curate phase on the corpus tables."""

    def prepare(self, seed: int, cache: str) -> dict:
        # release: 2x key-offset replication of a sf0.005 base (sf0.01 sized)
        rel = generate(Spec(seed=seed, sf=0.005, replicate=2, tables=RELEASE_TABLES),
                       cache, extra_orders_salt=1)
        cur = generate(Spec(seed=seed, sf=0.01, tables=CURATE_TABLES), cache)
        self.src, self.corpus = rel["dir"], cur["dir"]
        self.inp = os.path.join(self.work, "in")
        v2 = os.path.join(self.work, "in_v2")
        for d in (self.inp, v2):
            os.makedirs(d, exist_ok=True)
            for t in RELEASE_TABLES:
                shutil.copyfile(os.path.join(self.src, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
        shutil.copyfile(os.path.join(self.src, "orders_v2.parquet"), os.path.join(v2, "orders.parquet"))
        from gramene_mongodb_spark.catalog import REGISTRY

        self.want = {n: oracle_hash(REGISTRY[n].oracle, self.src) for n in
                     ("pipeline_release_e2e", *RELEASE_COLLECTS)}
        self.want["rerelease"] = oracle_hash(REGISTRY["pipeline_release_e2e"].oracle, v2)
        self.want.update({n: oracle_hash(REGISTRY[n].oracle, self.corpus)
                          for n in ("pipeline_corpus_clean", *CURATE_QUERIES)})
        return {"rows": {"release": rel["rows"], "curate": cur["rows"]},
                "bytes": {"release": rel["bytes"], "curate": cur["bytes"]},
                "near_dup_rate": cur["near_dup_rate"]}

    def run(self, seconds: float, traced: bool) -> list[dict]:
        """Passes until the next one, at the pace of the last, would end
        after ``seconds`` (at least one). Returns one record per pass."""
        self.t.enable(traced)
        recs, t0 = [], time.perf_counter()
        while True:
            recs.append(self.unit(len(recs), traced))
            if time.perf_counter() - t0 + recs[-1]["work_s"] > seconds:
                return recs

    def _put_orders(self, which: str) -> None:
        src = os.path.join(self.src, "orders.parquet" if which == "v1" else "orders_v2.parquet")
        tmp = os.path.join(self.inp, ".orders.tmp")
        shutil.copyfile(src, tmp)
        os.replace(tmp, os.path.join(self.inp, "orders.parquet"))

    def unit(self, i: int, traced: bool) -> dict:
        from gramene_mongodb_spark import pipelines

        spark, t = self.spark, self.t
        out = os.path.join(self.out, f"pass{i}")
        shutil.rmtree(out, ignore_errors=True)
        stage = os.path.join(out, "stage")
        self._put_orders("v1")
        written = {}
        with t.span("unit", "release"):
            t0 = time.perf_counter()
            summary = t.call("pipelines", "publish_release_summary", pipelines.publish_release_summary,
                             spark, self.inp, stage, os.path.join(out, "summary"))
            written["pipeline_release_e2e"] = summary
            collected = {}
            for name in RELEASE_COLLECTS:
                df = self.catalog_df(name, self.inp)
                with t.span("action", "collect"):
                    collected[name] = (df.columns, df.collect())
            t1 = time.perf_counter()
        self._put_orders("v2")
        with t.span("unit", "rerelease"):
            t2 = time.perf_counter()
            rr = t.call("pipelines", "publish_release_summary", pipelines.publish_release_summary,
                        spark, self.inp, stage, os.path.join(out, "summary_v2"))
            t3 = time.perf_counter()
        with t.span("unit", "curate"):
            t4 = time.perf_counter()
            written["pipeline_corpus_clean"] = t.call(
                "pipelines", "publish_corpus_clean", pipelines.publish_corpus_clean,
                spark, self.corpus, os.path.join(out, "clean"))
            for name in CURATE_QUERIES:
                df = self.catalog_df(name, self.corpus)
                with t.span("action", "collect"):
                    collected[name] = (df.columns, df.collect())
            t5 = time.perf_counter()
        rec = {"release_s": t1 - t0, "rerelease_s": t3 - t2, "curate_s": t5 - t4,
               "work_s": (t1 - t0) + (t3 - t2) + (t5 - t4)}
        if traced:
            # a resume with no input changed, timed plainly: with tracing off
            # its spans and jobs stay out of the layer figures, which break
            # down ``work_s`` only
            t.enable(False)
            t6 = time.perf_counter()
            hit = pipelines.publish_release_summary(
                spark, self.inp, stage, os.path.join(out, "summary_hit"))
            rec["resume_hit_s"] = time.perf_counter() - t6
            t.enable(True)
            self.ledger.record("resume_hit.stages", hit["ran_stages"] == [],
                               f"ran {hit['ran_stages']} with no input changed")
            stage_bytes, stage_files = dir_stats(stage)
            pub = [dir_stats(w["path"]) for w in (*written.values(), rr)]
            pub_bytes = sum(b for b, _ in pub)
            rec.update({
                "io.rows_written": sum(w["rows"] for w in (*written.values(), rr)),
                "io.bytes_written": pub_bytes + stage_bytes,
                "io.files_written": sum(f for _, f in pub) + stage_files,
                "io.write_amp": (stage_bytes + pub_bytes) / max(1, pub_bytes),
                "pipelines.stages_run": len(rr["ran_stages"]),
            })
        self._check(written, rr, collected)
        return rec

    def _check(self, written: dict, rr: dict, collected: dict) -> None:
        oracle = oracle_module()
        spark = self.spark
        for name, w in written.items():
            try:
                self.ledger.check(name, oracle.spark_value_hash(spark.read.parquet(w["path"])),
                                  self.want[name])
            except Exception as exc:  # noqa: BLE001 — a broken output is a failure, not a crash
                self.ledger.exception(name, exc)
        try:
            got = oracle.spark_value_hash(spark.read.parquet(rr["path"]))
            ok = got == self.want["rerelease"] and rr["ran_stages"] == RERELEASE_STAGES
            self.ledger.record("rerelease", ok,
                               f"stages {rr['ran_stages']}, hash {got[:12]} vs {self.want['rerelease'][:12]}")
        except Exception as exc:  # noqa: BLE001
            self.ledger.exception("rerelease", exc)
        for name, (cols, rows) in collected.items():
            self.ledger.check(name, rows_hash(cols, rows), self.want[name])


class Serve(Workload):
    # every round holds each of the ten kinds once, so the median is the
    # mean of two order statistics that move with the seeded order; the
    # mean covers every request (p50 and tail go to the details line)
    summary = staticmethod(statistics.fmean)
    def prepare(self, seed: int, cache: str) -> dict:
        m = generate(Spec(seed=seed, sf=0.01, tables=SERVE_TABLES), cache)
        self.inp = m["dir"]
        self.seed = seed
        from gramene_mongodb_spark.catalog import REGISTRY

        self.want = {n: oracle_hash(REGISTRY[n].oracle, self.inp) for n in SERVE_QUERIES}
        return m

    def run(self, seconds: float, traced: bool) -> list[dict]:
        """Measured rounds from a freshly started session: a round is the
        SERVE_QUERIES in a seeded order (a uniform draw without
        replacement) dealt alternately to the CLIENTS, each sending its
        next request when the previous one returned. After MIN_ROUNDS a
        client starts another round only if, at the pace of its last one,
        it would end within ``seconds``. Returns one record per request."""
        lock = threading.Lock()
        records: list[dict] = []
        errors: list[BaseException] = []
        t0 = time.perf_counter()

        def client(cid: int) -> None:
            try:
                self.t.enable(traced)
                for rnd in itertools.count():
                    r0 = time.perf_counter()
                    order = np.random.default_rng([self.seed, rnd]).permutation(len(SERVE_QUERIES))
                    for qi in order[cid::CLIENTS]:
                        rec = self._request(SERVE_QUERIES[qi])
                        with lock:
                            records.append(rec)
                    now = time.perf_counter()
                    if rnd + 1 >= MIN_ROUNDS and now - t0 + (now - r0) > seconds:
                        return
            except BaseException as exc:  # noqa: BLE001 — surfaced after join
                errors.append(exc)

        threads = [threading.Thread(target=client, args=(c,), name=f"client{c}")
                   for c in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        self.elapsed = time.perf_counter() - t0
        if errors:
            raise errors[0]
        return records

    def _request(self, name: str) -> dict:
        t0 = time.perf_counter()
        try:
            with self.t.span("unit", name):
                df = self.catalog_df(name, self.inp)
                with self.t.span("action", "collect"):
                    cols, rows = df.columns, df.collect()
        except Exception as exc:  # noqa: BLE001 — counted, the loop goes on
            self.ledger.exception(name, exc)
            return {"name": name, "work_s": time.perf_counter() - t0, "ok": False}
        dt = time.perf_counter() - t0
        ok = self.ledger.check(name, rows_hash(cols, rows), self.want[name])
        return {"name": name, "work_s": dt, "ok": ok}


WORKLOADS = {"batch": Batch, "serve": Serve}
