"""Engine benchmark: one command for every workload.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import ref  # noqa: E402
import tracing  # noqa: E402

# Files per corpus. Set-up (session start plus one cold build) takes
# 30-50 s on a 4-core host almost whatever the size, so the corpora are
# small enough for a whole run to stay near one minute.
BUILD_FILES = 600
SEARCH_FILES = 400
TOP_K = 10

# Every workload reports every end-to-end metric. An operation is one
# build on bulk_build and one query on search; an item is a file built
# or a query answered.
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "index_bytes_per_src_byte": "ratio",
}
BUILD_PHASES = ("plan", "write_docs", "group", "finalize")
LAYER_UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    **{f"build.{p}.wall_s": "s" for p in BUILD_PHASES},
    **{f"build.{p}.jobs": "count" for p in BUILD_PHASES},
    "build.jobs": "count",
    "build.tokenize.wall_s": "s",
    "build.tokenize.python_s": "s",
    "build.token_rows": "count",
    "build.encode.wall_s": "s",
    "build.encode.python_s": "s",
    "build.posting_blocks": "count",
    "build.shuffle_bytes": "bytes",
    "build.posting_payload_bytes": "bytes",
    "build.postings_disk_bytes": "bytes",
    "build.docs_disk_bytes": "bytes",
    "build.term_dict_disk_bytes": "bytes",
    "search.parse.wall_s": "s",
    "search.plan.wall_s": "s",
    "search.plan.jobs": "count",
    "search.exec.wall_s": "s",
    "search.exec.jobs": "count",
    "search.exec.executor_s": "s",
    "search.exec.python_s": "s",
    "search.exec.posting_rows_read": "count",
    "search.dict_cold_share": "ratio",
    **{f"search.class.{c}.p50_s": "s" for c in gen.QUERY_CLASSES},
    **{f"search.class.{c}.posting_rows_read": "count" for c in gen.QUERY_CLASSES},
    "trace.overhead_ratio": "ratio",
    "trace.coverage": "ratio",
}


def host_settings() -> tuple[int, str]:
    """Cores as nproc counts them, and a JVM heap of a quarter of
    MemTotal (the engine's own 32g default exceeds small hosts)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cores, f"{max(1, kb // (4 * 1024 * 1024))}g"


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def ratio(a: float, b: float) -> float:
    """a / b, or 0 when a failed operation left nothing to divide by."""
    return a / b if b else 0.0


class Run:
    """One benchmark run: its working directory, session and counters."""

    def __init__(self, args):
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.events = os.path.join(self.work, "events")
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.layers: dict[str, float] = {}

    def start_session(self):
        from codeindex_spark.session import get_spark

        cores, heap = host_settings()
        tmp = os.path.join(self.work, "tmp")
        os.environ["SPARK_DRIVER_MEM"] = heap
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = tmp
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.args.trace:
            conf.update(tracing.event_log_conf(self.events))
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", cores=cores,
                               extra_conf=conf)
        self.layers["session.start_s"] = time.perf_counter() - t0
        if self.args.trace:
            self.tracer = tracing.Tracer(self.spark)
        return self.spark

    def write_source(self, rows: list[dict]) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.work, "source.parquet")
        pq.write_table(pa.Table.from_pylist(rows), path)
        return path

    def attempt(self, fn, *args):
        """Run one operation; count it, and count it failed on error."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def check(self, check, *args) -> None:
        """Run one output check; a CheckError marks the run incorrect."""
        try:
            check(*args)
        except ref.CheckError:
            traceback.print_exc()
            self.correct = False

    def stop(self):
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.layers["session.peak_rss_mb"] = tracing.tree_peak_rss_mb()
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        # the JVM exits when its stdin closes; wait for it to be gone
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


# ------------------------------------------------------------ build layers


def _plain_build(spark, docs, index_dir: str) -> float:
    from codeindex_spark.index.segments import IndexBuilder

    t = time.perf_counter()
    IndexBuilder(spark, index_dir).build(docs, resume=False)
    return time.perf_counter() - t


def _traced_build(run: Run, docs, index_dir: str) -> dict:
    """Build phase by phase, one span each. The groups run one after
    another: build() runs them on a thread pool, whose jobs a caller's
    job group does not reach."""
    from codeindex_spark.index.segments import IndexBuilder

    span = run.tracer.span
    shutil.rmtree(index_dir, ignore_errors=True)
    spans = []
    t0 = time.perf_counter()
    with span("build.plan") as s:
        b = IndexBuilder(run.spark, index_dir)
        offsets = b.plan(docs)
    spans.append(s)
    with span("build.write_docs") as s:
        b.write_docs(docs, offsets)
    spans.append(s)
    for g in range(b.n_groups):
        with span("build.group") as s:
            b.build_group(docs, offsets, g)
        spans.append(s)
    with span("build.finalize") as s:
        b.finalize()
    spans.append(s)
    return {"wall_s": time.perf_counter() - t0, "spans": spans}


def _kernel_probe(run: Run, index_dir: str) -> dict:
    """Tokenize, then tokenize + encode, into a no-op sink. Encode is
    the difference between the two."""
    from codeindex_spark.index.build import build_postings, token_rows
    from codeindex_spark.index.segments import IndexReader
    from codeindex_spark.util import ensure_parallelism

    reader = IndexReader(run.spark, index_dir)
    p = reader.params

    def tokens():
        return token_rows(ensure_parallelism(reader.docs), p.fields, p.positionless)

    with run.tracer.span("build.tokenize") as tok:
        tokens().write.format("noop").mode("overwrite").save()
    with run.tracer.span("build.tokenize_encode") as both:
        build_postings(tokens(), reader.stats, p).write.format("noop").mode(
            "overwrite"
        ).save()
    return {"tokenize": tok, "both": both}


def _posting_payload(index_dir: str) -> tuple[int, int]:
    """(posting rows, summed byte lengths of the encoded columns)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    binary = ("docs_delta", "tfs", "dls", "pos_counts", "pos_deltas")
    t = ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                   partitioning="hive").to_table(columns=list(binary))
    payload = sum(pc.sum(pc.binary_length(t[c])).as_py() or 0 for c in binary)
    return t.num_rows, payload


def _index_sizes(run: Run, index_dir: str) -> None:
    n_blocks, payload = _posting_payload(index_dir)
    run.layers.update(
        {
            "build.posting_blocks": n_blocks,
            "build.posting_payload_bytes": payload,
            "build.postings_disk_bytes": dir_bytes(os.path.join(index_dir, "postings")),
            "build.docs_disk_bytes": dir_bytes(os.path.join(index_dir, "docs")),
            "build.term_dict_disk_bytes": dir_bytes(
                os.path.join(index_dir, "term_dict.parquet")
            ),
        }
    )


def _build_layers(run: Run, traced: list[dict], probe: dict, events) -> None:
    for phase in BUILD_PHASES:
        per_op = [[s for s in r["spans"] if s["layer"] == f"build.{phase}"] for r in traced]
        run.layers[f"build.{phase}.wall_s"] = median([sum(s["wall_s"] for s in ss) for ss in per_op])
        run.layers[f"build.{phase}.jobs"] = median([sum(s["jobs"] for s in ss) for ss in per_op])
    run.layers["build.jobs"] = median([sum(s["jobs"] for s in r["spans"]) for r in traced])
    tok_span, both_span = probe["tokenize"], probe["both"]
    tok, both = events.group(tok_span["group"]), events.group(both_span["group"])
    run.layers.update(
        {
            "build.tokenize.wall_s": tok_span["wall_s"],
            "build.tokenize.python_s": tok["python_s"],
            "build.token_rows": events.output_rows(tok_span["group"], "MapInPandas"),
            "build.encode.wall_s": both_span["wall_s"] - tok_span["wall_s"],
            "build.encode.python_s": both["python_s"] - tok["python_s"],
            "build.shuffle_bytes": both["shuffle_bytes"] - tok["shuffle_bytes"],
        }
    )


def _check_build(run: Run, rows: list[dict], index_dir: str) -> None:
    """Ingest invariant and dictionary df of sampled terms, then the
    self-check: the same checks must reject corrupted copies."""
    from pyspark.sql import functions as F

    from codeindex_spark.index.segments import IndexReader

    reader = IndexReader(run.spark, index_dir)
    got_docs = [
        ((r["repo"], r["path"], r["commit"]), r["content_sha256"])
        for r in reader.docs.select("repo", "path", "commit", "content_sha256").collect()
    ]
    idx = ref.RefIndex(rows)
    rng = random.Random(f"df-sample-{run.args.seed}")
    by_df = sorted(idx.df, key=lambda t: (-idx.df[t], t))
    terms = by_df[:8] + rng.sample(by_df[8:], 24) + ["nosuchtermanywhere"]
    got_df = {
        r["term"]: r["df"]
        for r in reader.term_dict.filter(
            (F.col("field") == "content") & F.col("term").isin(terms)
        ).select("term", "df").collect()
    }
    ref.check_docs_table(rows, got_docs)
    ref.check_df(idx, got_df, terms)
    bad_sha = [(got_docs[0][0], "0" * 64)] + got_docs[1:]
    bad_df = dict(got_df, **{terms[0]: got_df[terms[0]] + 1})
    if not (
        ref.rejects(ref.check_docs_table, rows, bad_sha)
        and ref.rejects(ref.check_docs_table, rows, got_docs[1:])
        and ref.rejects(ref.check_df, idx, bad_df, terms)
    ):
        raise ref.CheckError("self-check: a corrupted build result was accepted")


# ------------------------------------------------------------ query layers


def _filters(q: dict):
    from codeindex_spark.query.planner import Filters

    return Filters(**q["filters"]) if q["filters"] else None


def _result(rows) -> list[tuple]:
    return [((r["repo"], r["path"], r["commit"]), r["score"]) for r in rows]


class QueryLoop:
    """Rounds of the query stream against one engine, plain or traced;
    keeps every result for checking."""

    def __init__(self, run: Run, engine, idx, seed: int):
        self.run, self.engine, self.idx = run, engine, idx
        self.pools = gen.query_pools(seed, idx)
        self.stream = random.Random(f"stream-{seed}")
        self.times: list[float] = []
        self.spans: list[tuple] = []
        self.results: list[tuple] = []

    def _plain(self, q):
        return _result(
            self.engine.search(q["text"], TOP_K, _filters(q), with_docs=True).collect()
        )

    def _traced(self, q):
        from codeindex_spark.query import ast

        span = self.run.tracer.span
        with span("search.parse") as s_parse:
            node = ast.parse_query(q["text"])
        with span("search.plan") as s_plan:
            df = self.engine.search(node, TOP_K, _filters(q), with_docs=True)
        with span("search.exec") as s_exec:
            got = _result(df.collect())
        return got, (s_parse, s_plan, s_exec)

    def round(self, traced: bool) -> None:
        for q in gen.query_round(self.stream, self.pools):
            t = time.perf_counter()
            out = self.run.attempt(self._traced if traced else self._plain, q)
            dt = time.perf_counter() - t
            if out is None:
                continue
            if traced:
                got, ss = out
                self.spans.append((q["cls"], dt, ss))
            else:
                got = out
                self.times.append(dt)
            self.results.append((q, got))

    def check(self) -> None:
        """Every result against the reference, then the self-check: a
        perturbed score and a dropped document must both be rejected."""
        for q, got in self.results:
            ref.check_query(self.idx, q, got, TOP_K)
        sample = next(
            ((q, g) for q, g in self.results if q["cls"] == "term_hot" and g), None
        )
        if sample is None:
            raise ref.CheckError("self-check: no term_hot result to corrupt")
        q, got = sample
        (key, score), rest = got[0], got[1:]
        if not (
            ref.rejects(ref.check_query, self.idx, q, [(key, score * (1 + 1e-6))] + rest, TOP_K)
            and ref.rejects(ref.check_query, self.idx, q, rest, TOP_K)
        ):
            raise ref.CheckError("self-check: a corrupted search result was accepted")

    def layers(self, events) -> None:
        spans, lay = self.spans, self.run.layers
        for name, i in (("parse", 0), ("plan", 1), ("exec", 2)):
            lay[f"search.{name}.wall_s"] = median([ss[i]["wall_s"] for _, _, ss in spans])
        lay["search.plan.jobs"] = median([ss[1]["jobs"] for _, _, ss in spans])
        lay["search.exec.jobs"] = median([ss[2]["jobs"] for _, _, ss in spans])
        ex = [events.group(ss[2]["group"]) for _, _, ss in spans]
        lay["search.exec.executor_s"] = median([g["executor_s"] for g in ex])
        lay["search.exec.python_s"] = median([g["python_s"] for g in ex])
        rows_read = [
            (c, events.output_rows(ss[2]["group"], "Scan parquet", "/postings"))
            for c, _, ss in spans
        ]
        lay["search.exec.posting_rows_read"] = median([n for _, n in rows_read])
        lay["search.dict_cold_share"] = ratio(sum(1 for _, _, ss in spans if ss[1]["jobs"]), len(spans))
        for c in gen.QUERY_CLASSES:
            lay[f"search.class.{c}.p50_s"] = median([dt for k, dt, _ in spans if k == c])
            lay[f"search.class.{c}.posting_rows_read"] = median(
                [n for k, n in rows_read if k == c]
            )


def _coverage(ops: list[tuple[float, list]]) -> float:
    """Median share of an operation's wall time its layer spans cover."""
    return median([ratio(sum(s["wall_s"] for s in spans), wall) for wall, spans in ops])


# ------------------------------------------------------------ workloads


def bulk_build(run: Run) -> dict:
    """Warm full builds. A traced run alternates plain and traced builds,
    then probes the kernels and runs one traced query round against the
    last index, so that every layer is measured."""
    t0 = time.perf_counter()
    spark = run.start_session()
    rows = gen.corpus(run.args.seed, BUILD_FILES)
    src_bytes = sum(len(r["content"].encode("utf-8")) for r in rows)
    docs = spark.read.parquet(run.write_source(rows))
    index_dir = os.path.join(run.work, "index")
    # the first build in a JVM is cold (class loading, JIT, codegen);
    # it is set-up, and only the warm builds after it are measured
    _plain_build(spark, docs, index_dir)
    setup_s = time.perf_counter() - t0
    log(f"set-up {setup_s:.1f}s")

    plain, traced = [], []
    t_loop = time.perf_counter()
    while time.perf_counter() - t_loop < run.args.seconds:
        dt = run.attempt(_plain_build, spark, docs, index_dir)
        if dt is not None:
            plain.append(dt)
        if run.tracer is not None:
            rec = run.attempt(_traced_build, run, docs, index_dir)
            if rec is not None:
                traced.append(rec)
    log(f"{len(plain)} builds, {len(traced)} traced")
    run.check(_check_build, run, rows, index_dir)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(plain),
        "items_per_s": ratio(BUILD_FILES * len(plain), sum(plain)),
        "index_bytes_per_src_byte": dir_bytes(index_dir) / src_bytes,
    }
    if run.tracer is None:
        return e2e

    from codeindex_spark.index.segments import IndexReader
    from codeindex_spark.query.planner import SearchEngine

    probe = _kernel_probe(run, index_dir)
    _index_sizes(run, index_dir)
    queries = QueryLoop(run, SearchEngine(IndexReader(spark, index_dir)), ref.RefIndex(rows),
                        run.args.seed)
    queries.round(traced=True)
    run.check(queries.check)
    run.stop()
    events = tracing.EventLog(run.events)
    _build_layers(run, traced, probe, events)
    queries.layers(events)
    run.layers["trace.overhead_ratio"] = ratio(median([r["wall_s"] for r in traced]), median(plain))
    run.layers["trace.coverage"] = min(
        _coverage([(r["wall_s"], r["spans"]) for r in traced]),
        _coverage([(dt, ss) for _, dt, ss in queries.spans]),
    )
    return e2e


def search(run: Run) -> dict:
    """Rounds of the query stream against an index built in set-up. A
    traced run builds that index phase by phase, probes the kernels,
    and alternates plain and traced query rounds."""
    from codeindex_spark.index.segments import IndexReader
    from codeindex_spark.query.planner import SearchEngine

    t0 = time.perf_counter()
    spark = run.start_session()
    rows = gen.corpus(run.args.seed, SEARCH_FILES)
    src_bytes = sum(len(r["content"].encode("utf-8")) for r in rows)
    idx = ref.RefIndex(rows)
    docs = spark.read.parquet(run.write_source(rows))
    index_dir = os.path.join(run.work, "index")
    if run.tracer is None:
        _plain_build(spark, docs, index_dir)
    else:
        built = _traced_build(run, docs, index_dir)
    queries = QueryLoop(run, SearchEngine(IndexReader(spark, index_dir)), idx, run.args.seed)
    setup_s = time.perf_counter() - t0
    log(f"set-up {setup_s:.1f}s")

    if run.tracer is not None:
        # one plain round first, so that neither side of the overhead
        # ratio pays the first, cold queries in this JVM
        queries.round(traced=False)
        queries.times.clear()
    t_loop = time.perf_counter()
    while time.perf_counter() - t_loop < run.args.seconds:
        queries.round(traced=False)
        if run.tracer is not None:
            queries.round(traced=True)
    log(f"{len(queries.times)} queries, {len(queries.spans)} traced")
    run.check(queries.check)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(queries.times),
        "items_per_s": ratio(len(queries.times), sum(queries.times)),
        "index_bytes_per_src_byte": dir_bytes(index_dir) / src_bytes,
    }
    if run.tracer is None:
        return e2e

    probe = _kernel_probe(run, index_dir)
    _index_sizes(run, index_dir)
    run.stop()
    events = tracing.EventLog(run.events)
    _build_layers(run, [built], probe, events)
    queries.layers(events)
    run.layers["trace.overhead_ratio"] = ratio(
        median([dt for _, dt, _ in queries.spans]), median(queries.times)
    )
    run.layers["trace.coverage"] = min(
        _coverage([(built["wall_s"], built["spans"])]),
        _coverage([(dt, ss) for _, dt, ss in queries.spans]),
    )
    return e2e


WORKLOADS = {"bulk_build": bulk_build, "search": search}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "codeindex_spark")):
        print(f"codeindex_spark not found under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    try:
        e2e = WORKLOADS[args.workload](run)
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run is using it
            os.rmdir(os.path.dirname(run.work))
        log("stopped")
    if args.trace:
        metrics = {k: (run.layers.get(k, 0.0), u) for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
