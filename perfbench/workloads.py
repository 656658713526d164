"""The benchmark's workloads, driven through the engine's public API.

One closed-loop client (the next operation starts when the previous one
returned) against `local[<nproc>]`. Each workload makes its inputs from the
seed before the engine starts, repeats its set-up, warms up for a fixed
number of passes, times its operations, and checks every timed result
afterwards.
"""
from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

import numpy as np

import checks
import inputs
from spans import Tracer, dir_bytes, instrument, median

K = 10  # hits per query
KEYWORD_FIELDS = ("role", "tool", "conv_id")

SIZES = {
    # setups: repeated set-ups (topk_serve: build + searcher open; bulk_build:
    # warm-up builds). warm_passes: topk_serve's warm-up passes, each one
    # query of every family. nrt_timed: timed NRT batches; the tiered policy
    # merges on the second and the fourth.
    "full": dict(topk_convs=1200, setups=3, warm_passes=2, bulk_convs=2400,
                 nrt_add=30, nrt_upsert=15, nrt_timed=4),
    "tiny": dict(topk_convs=200, setups=2, warm_passes=1, bulk_convs=200,
                 nrt_add=6, nrt_upsert=3, nrt_timed=4),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quantile(xs, q: float) -> float:
    return float(np.quantile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def descendants() -> set[int]:
    """PIDs of every process below this one (the Spark JVM, its workers)."""
    parents: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parents[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {c for c, pp in parents.items() if pp in frontier} - out
        out |= frontier
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants."""
    parts: dict[str, list[int]] = {}
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            parts.setdefault(status["Name"].strip(), []).append(int(status["VmHWM"].split()[0]))
    print("peak RSS MB by process name:",
          ", ".join(f"{n} x{len(v)} {sum(v) / 1024:.0f}" for n, v in sorted(parts.items())),
          file=sys.stderr)
    return sum(sum(v) for v in parts.values()) / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while descendants() and time.time() < deadline:
        time.sleep(0.1)


class Run:
    """State shared by one benchmark run: timing, outcomes and tracing."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 size: str, run_dir: str, process_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[size]
        self.run_dir = run_dir
        self.process_start = process_start
        self.tracer = Tracer() if trace else None
        if self.tracer is not None:
            instrument(self.tracer)
        self.attempted = 0
        self.failed = 0
        self.end_to_end: dict[str, tuple[float, str]] = {}
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)

    def request(self, rid: str) -> None:
        if self.tracer is not None:
            self.tracer.request = rid

    def start_spark(self):
        """Start the session; returns it and the seconds since process start
        (the once-only part of set-up: inputs written, session ready)."""
        from lucenenet_spark import session

        self.request("setup")
        # shuffle_partitions=nproc: the session's default, max(cores, 8),
        # doubles the tasks of every small shuffle on a 4-core host.
        self.spark = session.get_spark("perfbench", cores=nproc(), shuffle_partitions=nproc())
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.attach(self.spark)
        return self.spark, time.time() - self.process_start

    def setup_done(self, once: float, repeats: list[float]) -> None:
        """setup_s: the once-only start plus the median of the run's
        repeated set-ups."""
        self.metric("setup_s", once + median(repeats), "s")
        print(f"{self.workload}: start {once:.2f} s, set-ups "
              + " ".join(f"{t:.2f}" for t in repeats), file=sys.stderr)

    def outcome(self, reason: str | None) -> None:
        self.attempted += 1
        if reason:
            self.failed += 1
            print(f"check failed: {reason}", file=sys.stderr)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.end_to_end[name] = (float(value), unit)

    def finish_metrics(self, index_bytes: int, text_bytes: int) -> None:
        self.metric("index_bytes_per_text_byte", index_bytes / text_bytes, "ratio")
        self.metric("peak_rss_mb", peak_rss_mb(), "MB")
        ok = self.attempted - self.failed
        self.metric("success_ratio", ok / max(self.attempted, 1), "ratio")


def query_op(run: Run, searcher, spec: inputs.QuerySpec, k: int = K):
    """parse -> search(k) -> fetch -> collect; returns (query, rows, seconds)."""
    from lucenenet_spark.plans import parser

    t0 = time.perf_counter()
    with run.span("query", family=spec.family, segments=len(searcher.segments)):
        q = parser.parse(spec.text)
        if spec.min_should_match:
            q = dataclasses.replace(q, min_should_match=spec.min_should_match)
        hits = searcher.search(q, k=k)
        fetched = searcher.fetch(hits, hits_bound=k)
        with run.span("search.collect"):
            rows = fetched.collect()
    return q, rows, time.perf_counter() - t0


def warm_up(run: Run, one_pass, passes: int) -> list[float]:
    """Run `passes` warm-up passes; `one_pass(i)` runs pass i and returns
    its latencies. The pass medians go to stderr, so every run shows how
    far latency had levelled off when timing began."""
    meds = []
    for i in range(passes):
        run.request(f"warm-{i}")
        meds.append(median(one_pass(i)))
    print(f"{run.workload}: warm-up pass medians", " ".join(f"{m:.3f}" for m in meds),
          file=sys.stderr)
    return meds


def family_pass(run: Run, searcher, pool):
    """A warm-up pass: one query of every family, rotating the variants."""
    return lambda i: [query_op(run, searcher, v[i % len(v)])[2]
                      for v in (pool[f] for f in inputs.FAMILIES)]


def guarded(run: Run, what: str, fn):
    """Run one timed operation; an exception counts as a failed operation."""
    try:
        return fn()
    except Exception:  # the loop must keep running; the failure is reported
        traceback.print_exc()
        run.outcome(f"{what} raised")
        return None


def live_index_bytes(segment_dirs: list[str]) -> int:
    """Bytes of the segments of one generation, plus the doc stores their
    manifests share from source segments."""
    from lucenenet_spark.operators.index_build import load_manifest

    dirs = set(segment_dirs)
    for d in segment_dirs:
        for sg in load_manifest(d).get("stagings") or []:
            if not any(sg["path"].startswith(s + os.sep) for s in segment_dirs):
                dirs.add(sg["path"])
    return sum(dir_bytes(d) for d in dirs)


# -- topk_serve ---------------------------------------------------------------

def build_index(spark, corpus: str, out: str, build_id: str) -> dict:
    from lucenenet_spark.operators.index_build import IndexBuilder

    return IndexBuilder(spark, out, n_buckets=nproc(), n_segments=nproc(),
                        input_clustered=True).build(spark.read.parquet(corpus), build_id=build_id)


def check_queries(run: Run, oracle: checks.TopKOracle, done) -> None:
    for spec, q, rows in done:
        reason = oracle.check(q, rows, K)
        run.outcome(reason and f"{spec.text}: {reason}")


def query_metrics(run: Run, lat: list[float]) -> None:
    run.metric("query_p50_s", median(lat), "s")
    run.metric("query_p90_s", quantile(lat, 0.9), "s")


def topk_serve(run: Run) -> None:
    from lucenenet_spark.operators.search import IndexSearcher

    rng = np.random.default_rng([run.seed, 1])
    ids = [f"c{run.seed}_{i:06d}" for i in range(run.size["topk_convs"])]
    conv = inputs.conversations(rng, ids, shape=np.random.default_rng(1))
    corpus = run.path("corpus")
    inputs.write_parquet(conv, corpus, n_files=nproc())
    # Warm-up runs its own queries, so the serving list's repeats are
    # only those its Zipf-like draw makes (query_pool puts the hot term last).
    n_warm = run.size["warm_passes"]
    pool = inputs.query_pool(conv, rng, n_warm + 3)
    warm = {f: vs[:n_warm] for f, vs in pool.items()}
    serving = inputs.serving_list({f: vs[n_warm:] for f, vs in pool.items()}, 500)

    spark, once = run.start_spark()
    # Set-up, repeated: build the single-segment index and open a searcher.
    # The last searcher serves; the first set-up carries the cold JVM.
    builds, setups = [], []
    for i in range(run.size["setups"]):
        run.request(f"setup-{i}")
        index = run.path(f"index{i}")
        t0 = time.perf_counter()
        build_index(spark, corpus, index, f"topk-{i}")
        builds.append(time.perf_counter() - t0)
        searcher = IndexSearcher(spark, index)
        setups.append(time.perf_counter() - t0)
    run.setup_done(once, setups)
    warm_up(run, family_pass(run, searcher, warm), n_warm)

    done, lat = [], []
    deadline = time.perf_counter() + run.seconds
    for i, spec in enumerate(serving):
        # whole rounds of the query families: every run times the same mix
        if i % len(inputs.FAMILIES) == 0 and time.perf_counter() >= deadline:
            break
        run.request(f"q{i}")
        out = guarded(run, spec.text, lambda: query_op(run, searcher, spec))
        if out is not None:
            done.append((spec, out[0], out[1]))
            lat.append(out[2])

    check_queries(run, checks.TopKOracle(conv), done)
    seen, repeats = set(), 0
    for spec, _, _ in done:
        repeats += spec in seen
        seen.add(spec)
    print(f"topk_serve: {len(lat)} queries, {repeats} repeats:",
          " ".join(f"{s.family}={t:.2f}" for (s, _, _), t in zip(done, lat)), file=sys.stderr)
    query_metrics(run, lat)
    run.metric("build_turns_per_s", len(conv) / median(builds), "turns/s")
    run.finish_metrics(live_index_bytes([index]), conv.text_bytes())


# -- nrt_churn ----------------------------------------------------------------

@dataclasses.dataclass
class Batch:
    no: int
    kind: str  # "add" (process_batch) or "upsert" (update_documents)
    conv: inputs.Conversations
    path: str
    source: int  # the add batch whose conversations an upsert rewrites

    @property
    def ts_seconds(self) -> np.ndarray:
        return inputs.version_ts(self.no + 1, np.arange(len(self.conv))) // 1_000_000

    @property
    def probe_batches(self) -> set[int]:
        return {self.no, self.source}


def marker(batch_no: int) -> str:
    """A token every turn of one batch carries, so one small query finds
    the batch's live turns (and any stale turn an upsert failed to delete)."""
    return f"batch{batch_no:04d}"


def nrt_batches(run: Run, n: int) -> list[Batch]:
    """Appends of new conversations alternating with whole-conversation
    upserts of every other conversation of the previous append, each its
    own parquet input. Batch sizes (turns, tokens) and the upserted
    positions are the same for every seed; the words follow the seed."""
    rng = np.random.default_rng([run.seed, 2])
    out: list[Batch] = []
    for b in range(n):
        if b % 2 == 0:
            ids = [f"n{run.seed}_{b:03d}_{i:04d}" for i in range(run.size["nrt_add"])]
            kind, source = "add", b
        else:
            prev = sorted(set(out[-1].conv.conv_id))
            ids = prev[::2][: run.size["nrt_upsert"]]
            kind, source = "upsert", b - 1
        conv = inputs.conversations(rng, ids, shape=np.random.default_rng([b, 2]))
        conv.text = [f"{t} {marker(b)}" for t in conv.text]
        path = run.path("batches", f"b{b:03d}")
        inputs.write_parquet(conv, path, version=b + 1)
        out.append(Batch(b, kind, conv, path, source))
    return out


def nrt_churn(run: Run) -> None:
    from lucenenet_spark.streaming.nrt import NRTIndex

    warm_batches = 1
    batches = nrt_batches(run, warm_batches + run.size["nrt_timed"])
    union = inputs.Conversations(
        [c for b in batches for c in b.conv.conv_id],
        np.concatenate([b.conv.turn_idx for b in batches]),
        [t for b in batches for t in b.conv.text],
    )
    pool = inputs.query_pool(union, np.random.default_rng([run.seed, 3]), 2)

    spark, once = run.start_spark()
    # max_segments=1: the tiered policy merges once three similar-sized
    # segments are live, i.e. on the second and the fourth timed batch.
    # One bucket and one segment per micro-batch: a batch holds ~100 turns.
    nrt = NRTIndex(spark, run.path("nrt"), max_segments=1, n_buckets=1, n_segments=1,
                   keyword_fields=KEYWORD_FIELDS)
    state = checks.LiveState()
    visible, lat = [], []

    def batch_op(b: Batch, timed: bool) -> bool:
        t0 = time.perf_counter()
        df = spark.read.parquet(b.path)
        if b.kind == "add":
            nrt.process_batch(df, b.no)
        else:
            nrt.update_documents(df, b.no, key_field="conv_id")
        state.apply(b.conv, b.ts_seconds, b.no)
        searcher = nrt.searcher()
        want = state.keys_of(b.probe_batches)
        probe = inputs.QuerySpec("probe", " OR ".join(marker(x) for x in sorted(b.probe_batches)))
        _, rows, dt = query_op(run, searcher, probe, k=2 * len(want) + K)
        if not timed:
            family_pass(run, searcher, pool)(0)
            return True
        visible.append(time.perf_counter() - t0)
        lat.append(dt)
        run.outcome(state.check_probe(want, rows))
        # every query family reads each fresh generation
        for f in inputs.FAMILIES:
            spec = pool[f][b.no % len(pool[f])]
            _, rows, dt = query_op(run, searcher, spec)
            lat.append(dt)
            run.outcome(state.check_rows(rows) or checks.check_ranked_rows(rows, K))
        return True

    # Set-up: one warm publish, read by every query family.
    t0 = time.perf_counter()
    for b in batches[:warm_batches]:
        run.request(f"warm-{b.no}")
        batch_op(b, timed=False)
    run.setup_done(once, [time.perf_counter() - t0])

    t_phase = time.perf_counter()
    turns = 0
    for b in batches[warm_batches:]:
        run.request(f"b{b.no}")
        if guarded(run, f"batch {b.no}", lambda: batch_op(b, timed=True)) is None:
            break  # the index state is unknown after a failed write
        turns += len(b.conv)
    phase = time.perf_counter() - t_phase

    query_metrics(run, lat)
    run.metric("visible_p50_s", median(visible), "s")
    run.metric("churn_turns_per_s", turns / phase, "turns/s")
    run.finish_metrics(live_index_bytes(nrt.segments()), state.text_bytes())


# -- bulk_build ---------------------------------------------------------------

def bulk_build(run: Run) -> None:
    from lucenenet_spark import validate
    from lucenenet_spark.functions.analysis import tokenize_text
    from lucenenet_spark.operators.search import IndexSearcher

    rng = np.random.default_rng([run.seed, 4])
    ids = [f"b{run.seed}_{i:06d}" for i in range(run.size["bulk_convs"])]
    conv = inputs.conversations(rng, ids, shape=np.random.default_rng(4))
    corpus = run.path("corpus")
    inputs.write_parquet(conv, corpus, n_files=2 * nproc())
    pool = inputs.query_pool(conv, rng, 1)

    spark, once = run.start_spark()
    n = 0

    def build():
        nonlocal n
        n += 1
        out = run.path(f"index{n % 2}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        manifest = build_index(spark, corpus, out, f"bulk-{n}")
        return time.perf_counter() - t0, manifest, out

    # Set-up, repeated: warm-up builds (the first carries the cold JVM).
    setups = warm_up(run, lambda i: [build()[0]], run.size["setups"])
    run.setup_done(once, setups)

    builds: list[tuple[float, dict]] = []
    deadline = time.perf_counter() + run.seconds
    last = None
    while time.perf_counter() < deadline:
        run.request(f"build{n + 1}")
        out = guarded(run, f"build {n + 1}", build)
        if out is not None:
            builds.append(out[:2])
            last = out[2]

    # The last build answers one query of every family on a fresh searcher:
    # the first queries a user sends after a rebuild, checked for rank and
    # score against the oracle.
    done, lat = [], []
    if last is not None:
        searcher = IndexSearcher(spark, last)
        for f in inputs.FAMILIES:
            run.request(f"q-{f}")
            spec = pool[f][0]
            out = guarded(run, spec.text, lambda: query_op(run, searcher, spec))
            if out is not None:
                done.append((spec, out[0], out[1]))
                lat.append(out[2])
    check_queries(run, checks.TopKOracle(conv), done)
    print("bulk_build:", " ".join(f"{dt:.2f}" for dt, _ in builds), "s per build;",
          " ".join(f"{s.family}={t:.2f}" for (s, _, _), t in zip(done, lat)), file=sys.stderr)

    sum_ttf = sum(len(tokenize_text(t)) for t in conv.text)
    for _, m in builds:
        run.outcome(None if (m["max_doc"], m["sum_ttf"]) == (len(conv), sum_ttf)
                    else f"manifest max_doc/sum_ttf {m['max_doc']}/{m['sum_ttf']}")
    if last is not None:
        report = validate.check_index(spark, last)
        run.outcome(None if report["ok"] else f"check_index: {report}")
    query_metrics(run, lat)
    run.metric("build_turns_per_s", median(len(conv) / dt for dt, _ in builds), "turns/s")
    run.finish_metrics(live_index_bytes([last]) if last else 0, conv.text_bytes())


WORKLOADS = {"topk_serve": topk_serve, "nrt_churn": nrt_churn, "bulk_build": bulk_build}
