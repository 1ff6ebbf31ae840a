#!/usr/bin/env python3
"""Repository benchmark for ms_ocr_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root.  Each run generates its inputs from the seed
(cached under perfbench/.cache), starts Spark at local[nproc / 2] from this
one Python process and runs the workload closed-loop, one Spark action at a
time: a full warm-up pass, then timed passes until `--seconds` of pass wall
has been measured.  Half the cores are left to the JVM's JIT compiler and GC
threads and the driver, which otherwise compete with the task threads.  On
every way out, Spark, its JVM and every other process the run started are
stopped and waited for.  Every pass output is checked against the generator's
goldens or the registry's DuckDB oracles, outside the timed window.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics`.  `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics (see README.md); the line before it carries the run
context (host, versions, corpus bases, raw samples).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
SETUP_REPEATS = 3
MIN_PASSES = 3

# extraction corpus: document pool (generated once per checkout), docs per
# run and fixed media cost per doc
EXTRACT = {
    "pool_docs": 1200,
    "n_docs": 100,
    "cost_per_doc": 4.2,
    "datagen": {"skew_doc_pct": 0.01, "skew_mult": 20, "color_jpeg_pct": 0.05},
}
TIFF_POOL = {"pool_docs": 24, "n_docs": 8, "cost_per_doc": 4.4, "datagen": {"tiff_pct": 1.0}}
CKPT_BUCKETS = 16
# documents and embeddings at half sf0.1's row counts; lineitem for an eighth
# of the 9973 box-query documents, each as dense as at sf0.1
OPS_SCALE = 0.5
OPS_BOX_DOCS = 1247
OPS_QUERIES = [
    "simhash_neardup_pairs",
    "ann_brute_force_topk",
    "embedding_neardup_pairs",
    "overlap_join_boxes",
]
WORKLOADS = ["extract_ckpt", "ops_registry"]
PIPELINE_KEYS = [
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "python_total_s", "python_boot_s", "python_init_s", "python_sent_mb",
    "python_received_mb", "boundary_s", "udf_task_skew", "shuffle_write_mb",
    "shuffle_read_mb", "broadcast_mb", "restitch_stage_s",
]
CKPT_KEYS = [
    "run_s", "write_job_s", "stats_job_s", "driver_s", "bytes_written_mb",
    "files_written", "markers", "resume_noop_s",
]


def _median_dict(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


# -- extraction workloads ---------------------------------------------------


def _spans(rows) -> dict:
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def _draw(name: str, spec: dict, seed: int, n_docs: int, corrupt: int) -> dict:
    from corpora import write_extraction_corpus

    return write_extraction_corpus(
        os.path.join(CACHE, f"{name}-s{seed}-n{n_docs}-c{corrupt}"),
        os.path.join(CACHE, f"pool-{name}"),
        spec["pool_docs"],
        seed,
        n_docs,
        spec["cost_per_doc"],
        corrupt=corrupt,
        **spec["datagen"],
    )


class Extraction:
    def __init__(self, seed: int, scale: float, corrupt: int):
        import pyarrow.parquet as pq

        n_docs = max(8, int(EXTRACT["n_docs"] * scale))
        t0 = time.perf_counter()
        c = _draw("extract_ckpt", EXTRACT, seed, n_docs, corrupt)
        self.datagen_s = time.perf_counter() - t0
        self.paths, self.bases = c["paths"], c["bases"]
        self.n_items = self.bases["docs"]
        self.golden = _spans(pq.read_table(self.paths["golden_spans"]).to_pylist())
        self.modules = ["ms_ocr_spark.extraction.pipeline", "ms_ocr_spark.extraction.ocr", "ms_ocr_spark.extraction.arc90"]
        self.n_pass = 0

    def open(self, spark, cores: int) -> None:
        self.spark, self.cores = spark, cores
        self.docs = spark.read.parquet(self.paths["documents"])
        self.media = spark.read.parquet(self.paths["media_store"])

    def run_pass(self, layer: dict | None = None) -> str:
        """run_with_checkpoints into a fresh output, then a resume call that
        must find every bucket committed."""
        from ms_ocr_spark.plans.checkpoint import run_with_checkpoints

        self.n_pass += 1
        out = os.path.join(CACHE, "ckpt-out", f"pass{self.n_pass}")
        shutil.rmtree(out, ignore_errors=True)
        kw = {"job_id": "bench", "n_buckets": CKPT_BUCKETS, "salt_partitions": self.cores}
        t0 = time.perf_counter()
        committed = run_with_checkpoints(self.spark, self.docs, self.media, out, **kw)
        t1 = time.perf_counter()
        again = run_with_checkpoints(self.spark, self.docs, self.media, out, **kw)
        t2 = time.perf_counter()
        if layer is not None:
            layer.update(run_s=t1 - t0, resume_noop_s=t2 - t1, files=_output_files(out))
        if again or len(committed) != CKPT_BUCKETS:
            raise RuntimeError(f"checkpoint committed {len(committed)} then {len(again)} buckets")
        return out

    def warm_up(self) -> tuple[int, int, dict]:
        return self.check(self.run_pass())

    def verify(self) -> tuple[int, int, dict]:
        """Every pass is already checked against the goldens."""
        return 0, 0, {}

    def check(self, out) -> tuple[int, int, dict]:
        """(attempted, failed, detail): a doc fails unless its span sequence
        equals the golden one; null OCR text where the golden has text is
        counted on its own as the visible trace of a swallowed decode error."""
        import pyarrow.dataset as ds

        data = ds.dataset(os.path.join(out, "data"), format="parquet", partitioning="hive")
        got = _spans(data.to_table(columns=["doc_id", "spans"]).to_pylist())
        shutil.rmtree(out)
        failed = sum(got.get(d) != spans for d, spans in self.golden.items()) + len(set(got) - set(self.golden))
        null_media = sum(
            g[0] == "media" and g[1] is not None and o[1] is None
            for d, spans in self.golden.items()
            for g, o in zip(spans, got.get(d, []))
        )
        return len(self.golden), failed, {"null_media_text": null_media}

    def layer_metrics(self, rows: list[dict], seed: int, ctx: dict) -> dict:
        """Codec, kernel and Arc90 timed without Spark over this corpus's
        payloads, plus the pipeline and checkpoint rows of the traced passes."""
        import pyarrow.parquet as pq

        from layers import time_layers

        media = pq.read_table(self.paths["media_store"], columns=["payload"])["payload"].to_pylist()
        # the extraction corpus carries no TIFF; a small TIFF-only corpus
        # gives the TIFF codec row
        tiff = _draw("tiff", TIFF_POOL, seed, TIFF_POOL["n_docs"], 0)
        media += pq.read_table(tiff["paths"]["media_store"], columns=["payload"])["payload"].to_pylist()
        docs = pq.read_table(self.paths["documents"]).to_pylist()
        htmls = [s["text"] for d in docs for s in d["spans"] if s["kind"] == "text"]
        lay = time_layers(media, htmls)
        ctx["codec_errors_by_class"] = lay["codec_errors_by_class"]
        body = lay["metrics"]
        pipeline = _pipeline_layer(rows)
        n_media = self.bases["media_by_mime"]
        # Python time the UDF bodies account for, at the single-process rates
        body_s = (
            n_media.get("png", 0) * (body["codec.png.ms_per_image"] + body["kernel.ms_per_image"])
            + n_media.get("jpeg", 0) * (body["codec.jpeg.ms_per_image"] + body["kernel.ms_per_image"])
            + self.bases["text_spans"] * body["arc90.ms_per_span"]
        ) / 1e3
        pipeline["pipeline.boundary_s"] = pipeline["pipeline.python_total_s"] - body_s
        return {**body, **pipeline, **_ckpt_layer(rows)}


# -- operator workload ------------------------------------------------------


def _embedding_neardup_oracle(path: str, threshold: float) -> "pd.DataFrame":
    """NumPy transcription of the registry's DuckDB oracle for
    embedding_neardup_pairs: LSH bucket from the shared hyperplanes, then
    ROUND(cosine, 6) >= threshold within a bucket.  Sums run dimension by
    dimension, in the order of the SQL's list_reduce fold.  DuckDB's
    list-lambda evaluation of that SQL takes ~40 s at sf0.1's 2,000 vectors."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from ms_ocr_spark.functions.hashing import plane_weights

    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_numpy()
    vecs = np.array(t["embedding"].to_pylist(), dtype=np.float64)

    def fold(a, b):
        acc = np.zeros(len(a))
        for d in range(a.shape[1]):
            acc = acc + a[:, d] * b[:, d]
        return acc

    weights = np.array(plane_weights(8, vecs.shape[1]))
    bucket = sum((fold(vecs, np.broadcast_to(w, vecs.shape)) > 0) * (1 << p) for p, w in enumerate(weights))
    norm = np.sqrt(fold(vecs, vecs))
    out = []
    for b in np.unique(bucket):
        idx = np.flatnonzero(bucket == b)
        ia, ib = np.triu_indices(len(idx), k=1)
        ia, ib = idx[ia], idx[ib]
        swap = ids[ia] > ids[ib]
        ia, ib = np.where(swap, ib, ia), np.where(swap, ia, ib)
        sim = np.round(fold(vecs[ia], vecs[ib]) / (norm[ia] * norm[ib]), 6)
        keep = sim >= threshold
        out.append(pd.DataFrame({"id_a": ids[ia][keep], "id_b": ids[ib][keep], "sim": sim[keep]}))
    return pd.concat(out, ignore_index=True)


class Ops:
    def __init__(self, seed: int, scale: float, corrupt: int):
        from corpora import write_ops_tables

        t0 = time.perf_counter()
        box_docs = max(50, int(OPS_BOX_DOCS * scale))
        t = write_ops_tables(os.path.join(CACHE, f"ops-s{seed}-x{scale}"), seed, OPS_SCALE * scale, box_docs)
        self.datagen_s = time.perf_counter() - t0
        self.dir, self.bases = t["dir"], t["bases"]
        self.n_items = len(OPS_QUERIES)
        self.modules = ["ms_ocr_spark.operators.dedup", "ms_ocr_spark.operators.similarity"]

    def open(self, spark, cores: int) -> None:
        from ms_ocr_spark import queries

        self.spark, self.queries = spark, queries.queries()

    def run_pass(self, layer: dict | None = None) -> dict:
        """Every listed query into a noop sink; returns this pass's errors."""
        from ms_ocr_spark.plans.cache import release_all

        times, errors = {}, {}
        for q in OPS_QUERIES:
            t0 = time.perf_counter()
            try:
                self.queries[q](self.spark, self.dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # one failing query must not hide the rest
                errors[q] = f"{type(exc).__name__}: {exc}"[:300]
            times[q] = time.perf_counter() - t0
        release_all()
        if layer is not None:
            layer.update({f"{q}.s": s for q, s in times.items()})
        return errors

    def check(self, errors: dict) -> tuple[int, int, dict]:
        return len(OPS_QUERIES), len(errors), {"query_errors": errors} if errors else {}

    def layer_metrics(self, rows: list[dict], seed: int, ctx: dict) -> dict:
        pipeline = _pipeline_layer(rows)
        med = _median_dict([{k: v for k, v in r.items() if k != "events"} for r in rows])
        return {
            **pipeline,
            **{f"ops.{k}": v for k, v in med.items()},
            "ops.shuffle_write_mb": pipeline["pipeline.shuffle_write_mb"],
        }

    def warm_up(self) -> tuple[int, int, dict]:
        return self.check(self.run_pass())

    def verify(self) -> tuple[int, int, dict]:
        """After the timed passes, collects every listed query and compares
        it with its oracle, exactly after sorting (as the registry's parity
        tests do); the similarity scores of embedding_neardup_pairs to 1e-6.
        The warm-up is a noop-sink pass like the timed ones, so that it warms
        the path they run."""
        import duckdb
        import pandas as pd

        from ms_ocr_spark import queries
        from ms_ocr_spark.plans.cache import release_all

        con = duckdb.connect()
        for t in self.bases:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        # the registry's own oracle text; oracle_sql() would also build every
        # lazily generated fixture oracle, which these queries do not need
        oracles = {name: sql for name, _, sql in queries._REGISTRY if name in OPS_QUERIES}

        def canon(df):
            df = df[sorted(df.columns)].copy()
            for c in df.columns:
                if df[c].dtype == object:
                    df[c] = df[c].astype(str)
            return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)

        bad = {}
        for q in OPS_QUERIES:
            try:
                got = canon(self.queries[q](self.spark, self.dir).toPandas())
                if q == "embedding_neardup_pairs":
                    want = canon(_embedding_neardup_oracle(os.path.join(self.dir, "embeddings.parquet"), 0.3))
                    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, atol=1e-6, rtol=0)
                else:
                    want = canon(con.execute(oracles[q]).fetchdf())
                    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            except Exception as exc:
                bad[q] = f"{type(exc).__name__}: {exc}"[:300]
        release_all()
        con.close()
        return len(OPS_QUERIES), len(bad), {"oracle_mismatch": bad}


# -- harness ----------------------------------------------------------------


def _session(cores: int):
    from ms_ocr_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(CACHE, 'tmp')}",
    }
    spark = get_spark(app="perfbench", cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_workers(spark, cores: int, modules: list[str]) -> None:
    """Fork one Python worker per core and import the workload's modules."""

    def body(batches):
        import importlib

        for m in modules:
            importlib.import_module(m)
        yield from batches

    spark.range(cores, numPartitions=cores).mapInPandas(body, "id long").write.format("noop").mode(
        "overwrite"
    ).save()


def _timed_setup(cores: int, wl):
    t0 = time.perf_counter()
    spark = _session(cores)
    wl.open(spark, cores)
    _warm_workers(spark, cores, wl.modules)
    return spark, time.perf_counter() - t0


def _measure(wl, seconds: float, min_passes: int = MIN_PASSES, proc=None, events=None, layer_rows=None) -> dict:
    """Closed loop of passes until `seconds` of pass wall and `min_passes`."""
    walls, cpus, rss, tree_rss = [], [], [], []
    attempted = failed = 0
    detail: dict = {}
    while sum(walls) < seconds or len(walls) < min_passes:
        layer = {} if layer_rows is not None else None
        if proc:
            proc.start()
        t0 = time.perf_counter()
        out = wl.run_pass(layer)
        walls.append(time.perf_counter() - t0)
        if proc:
            cpu, peak, tree_peak = proc.stop()
            cpus.append(cpu)
            rss.append(peak)
            tree_rss.append(tree_peak)
        if events is not None:
            layer["events"] = events.read_new()
        if layer_rows is not None:
            layer_rows.append(layer)
        a, f, d = wl.check(out)
        attempted, failed = attempted + a, failed + f
        for k, v in d.items():
            if isinstance(v, dict):
                detail.setdefault(k, {}).update(v)
            else:
                detail[k] = detail.get(k, 0) + v
    return {"walls": walls, "cpus": cpus, "rss": rss, "tree_rss": tree_rss, "attempted": attempted, "failed": failed, "detail": detail}


def _become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so that the
    Python workers outliving the JVM stay waitable (Linux prctl)."""
    import ctypes

    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap_all(grace_s: float = 20.0) -> None:
    """Stop Spark and the JVM pyspark launched, then terminate every
    remaining descendant and wait until each has ended."""
    from probes import descendants

    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the gateway server exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=grace_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
    except Exception as exc:  # fall through to the signals below
        print(f"perfbench: spark shutdown: {type(exc).__name__}: {exc}", file=sys.stderr)

    def reap() -> None:
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    return
            except ChildProcessError:
                return

    deadline = time.monotonic() + grace_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while descendants() and time.monotonic() < deadline:
            reap()
            time.sleep(0.05)
        deadline = time.monotonic() + grace_s
    reap()


def _git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False)
    return r.stdout.strip() or "unknown"


def _pipeline_layer(rows: list[dict]) -> dict:
    from probes import spark_metrics

    med = _median_dict([spark_metrics(r["events"]) for r in rows])
    return {f"pipeline.{k}": v for k, v in med.items()}


def _layer_names() -> list[str]:
    """Every per-layer metric; a layer the workload does not run reports 0."""
    from layers import time_layers

    return [
        *time_layers([], [])["metrics"],
        "pipeline.pass_wall_s",
        *(f"pipeline.{k}" for k in PIPELINE_KEYS),
        *(f"checkpoint.{k}" for k in CKPT_KEYS),
        *(f"ops.{q}.s" for q in OPS_QUERIES),
        "ops.shuffle_write_mb",
    ]


def _ckpt_layer(rows: list[dict]) -> dict:
    from probes import sql_execution_spans

    per = []
    for r in rows:
        spans = sql_execution_spans(r["events"])
        write = sum(s for plan, s in spans if "InsertIntoHadoopFsRelationCommand" in plan)
        stats = sum(s for plan, s in spans if "InsertIntoHadoopFsRelationCommand" not in plan)
        per.append(
            {
                "run_s": r["run_s"],
                "write_job_s": write,
                "stats_job_s": stats,
                "driver_s": r["run_s"] - write - stats,
                "resume_noop_s": r["resume_noop_s"],
                **r["files"],
            }
        )
    med = _median_dict(per)
    return {f"checkpoint.{k}": med[k] for k in CKPT_KEYS}


def _output_files(out: str) -> dict:
    n = size = markers = 0
    for d, _, files in os.walk(out):
        for f in files:
            if f.endswith(".crc"):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
            markers += d.endswith("_lineage") and f.endswith(".parquet")
    return {"files_written": n, "bytes_written_mb": size / 2**20, "markers": markers}


def run(args) -> dict:
    from probes import EventLog, ProcTree, cpu_jiffies, load_average

    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)
    load0 = load_average()
    cls = Ops if args.workload == "ops_registry" else Extraction
    wl = cls(args.seed, args.scale, args.corrupt)
    ctx: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "master": f"local[{cores}]",
        "git_commit": _git_commit(),
        "python": sys.version.split()[0],
        "corpus_bases": wl.bases,
        "datagen_s": round(wl.datagen_s, 3),
    }
    import pyspark

    ctx["pyspark"] = pyspark.__version__
    proc = ProcTree()

    if not args.trace:
        setups = []
        for i in range(SETUP_REPEATS):
            spark, s = _timed_setup(cores, wl)
            setups.append(s)
            if i < SETUP_REPEATS - 1:
                spark.stop()
        t0 = time.perf_counter()
        a0, f0, d0 = wl.warm_up()
        ctx["warmup_s"] = round(time.perf_counter() - t0, 3)
        steal0, total0 = cpu_jiffies()
        m = _measure(wl, args.seconds, proc=proc)
        steal1, total1 = cpu_jiffies()
        ctx["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
        a1, f1, d1 = wl.verify()
        attempted, failed = m["attempted"] + a0 + a1, m["failed"] + f0 + f1
        m["detail"].update(d0, **d1)
        spark.stop()
        # pass wall is context, not an end-to-end metric: on a shared VM it
        # follows the neighbours' load (see README.md)
        ctx["wall_s"] = statistics.median(m["walls"])
        ctx["items_per_s"] = wl.n_items / ctx["wall_s"]
        metrics = {
            "cpu_s": (statistics.median(m["cpus"]), "s"),
            "peak_rss_mb": (statistics.median(m["rss"]), "MB"),
            "setup_s": (statistics.median(setups), "s"),
        }
        ctx.update(
            setup_samples_s=setups,
            wall_samples_s=m["walls"],
            cpu_samples_s=m["cpus"],
            worker_rss_samples_mb=m["rss"],
            tree_rss_samples_mb=m["tree_rss"],
        )
    else:
        # untraced passes first, then the same session with an event-log
        # listener attached
        spark, _ = _timed_setup(cores, wl)
        a0, f0, d0 = wl.warm_up()
        plain = _measure(wl, args.seconds / 2, min_passes=2)
        plain["detail"].update(d0)
        event_dir = os.path.join(CACHE, "eventlog")
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        events = EventLog(spark, event_dir)
        rows: list[dict] = []
        traced = _measure(wl, args.seconds / 2, min_passes=2, events=events, layer_rows=rows)
        events.close()
        a1, f1, d1 = wl.verify()
        spark.stop()
        shutil.rmtree(event_dir, ignore_errors=True)
        metrics = dict.fromkeys(_layer_names(), 0.0)
        metrics.update(wl.layer_metrics(rows, args.seed, ctx))
        untraced = statistics.median(plain["walls"])
        metrics["pipeline.pass_wall_s"] = untraced
        metrics = {k: (v, _unit(k)) for k, v in metrics.items()}
        attempted = a0 + a1 + plain["attempted"] + traced["attempted"]
        failed = f0 + f1 + plain["failed"] + traced["failed"]
        ctx.update(
            untraced_wall_samples_s=plain["walls"],
            traced_wall_samples_s=traced["walls"],
            tracing_overhead_s=statistics.median(traced["walls"]) - untraced,
        )
        m = {"detail": {**plain["detail"], **traced["detail"], **d1}}
    ctx.update(m["detail"])
    ctx["loadavg_before"], ctx["loadavg_after"] = load0, load_average()
    return {
        "context": ctx,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(".ms") or name.endswith("ms_per_image") or name.endswith("ms_per_span"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_frac") or name.endswith("_skew"):
        return "ratio"
    return "count"


def self_test() -> int:
    """Tiny-corpus runs of every workload in both modes: every metric that
    BENCHMARK.json names must be printed with its unit, and a corrupt payload
    injected into the generated input must be counted as failed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []

    def run_once(workload: str, trace: int, *extra: str) -> dict:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", "1",
               "--seconds", "1", "--trace", str(trace), "--scale", "0.2", *extra]
        r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, check=False)
        if r.returncode:
            problems.append(f"{workload} trace={trace} exited {r.returncode}: {r.stderr[-500:]}")
            return {}
        return json.loads(r.stdout.strip().splitlines()[-1])

    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run_once(w["name"], trace)
            got = res.get("metrics", {})
            for m in spec[key]:
                if m["name"] not in got:
                    problems.append(f"{w['name']} trace={trace}: {m['name']} missing")
                elif got[m["name"]]["unit"] != m["unit"]:
                    problems.append(f"{w['name']} trace={trace}: {m['name']} unit {got[m['name']]['unit']}")
            if res and res["failed"]:
                problems.append(f"{w['name']} trace={trace}: {res['failed']} failed on clean input")
    res = run_once(spec["workloads"][0]["name"], 0, "--corrupt", "1")
    if not res.get("failed"):
        problems.append("injected corrupt payload was not counted as failed")
    for p in problems:
        print("self-test:", p, file=sys.stderr)
    print("self-test:", "FAIL" if problems else "ok")
    return 1 if problems else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (self-test)")
    p.add_argument("--corrupt", type=int, default=0, help="corrupt media payloads to inject (self-test)")
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ms_ocr_spark")):
        print(f"perfbench: no ms_ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.self_test:
        return self_test()
    if not args.workload:
        p.error("--workload is required")
    # Spark, its Python workers and Python's tempfile all stay inside the
    # checkout; workers import ms_ocr_spark from it
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=os.path.join(CACHE, "spark-local"),
        TMPDIR=tmp,
    )
    os.environ.pop("SPARK_GRAFT_NO_MASTER", None)
    sys.path[:0] = [ROOT, HERE]
    _become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = run(args)
    finally:
        _reap_all()
    print(json.dumps({"context": out["context"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
