"""Layered benchmark for biobloom_spark: Bloom and miBF build and classify.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_web --seed 1 --seconds 10 --trace 0

One run = one workload in one fresh process on ``local[nproc]``:

1. cold start: interpreter + imports, ``session.get_spark``, then the first
   ``build_filters`` -> ``load_registry`` -> ``summarize_fused`` result on a
   500-page corpus shaped like the sf0.001 test documents;
2. host line: ``nproc`` and ``tools/scaling_bench.run_calibration``
   (taken before the JVM starts and excluded from the cold start);
3. set-up, repeated ``SETUP_REPS`` times: corpus generation + caching +
   pinned sizing; then, once, the halves and the whole corpus built with
   that sizing (the inputs and reference of every pass's merge);
4. passes over the workload (see ``workloads.py``) until ``--seconds`` have
   elapsed, checking every output and the per-pass ``output_digest``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` is a separate
run with job-group tags, spans and the Spark event log; it prints the
per-layer metrics, then runs the in-process kernel probes after the
session has stopped.  Its passes alternate between untagged and tagged
(at least one of each), and ``trace.overhead_frac`` compares the two.
The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; lines before it start
with ``#`` and are for people.  All scratch output goes to
``.perfbench_work/`` under the repository root.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3
#: the cold-start corpus: sf0.001's shape (500 pages, 5 languages,
#: ~56 tokens per page)
COLD_PAGES, COLD_LANGS, COLD_TOKENS = 500, ("en", "de", "fr", "es", "zh"), 56
#: pages per kernel probe sample
PROBE_PAGES = 2000

END_TO_END = {
    "setup_s": ("s", "lower"),
    "cold_start_s": ("s", "lower"),
    "bloom_build_pages_per_s": ("1/s", "higher"),
    "bloom_classify_pages_per_s": ("1/s", "higher"),
    "mibf_build_pages_per_s": ("1/s", "higher"),
    "mibf_classify_pages_per_s": ("1/s", "higher"),
    "pass_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

_COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "python_s": "s", "cpu_s": "s", "arrow_to_py_bytes": "bytes",
    "arrow_from_py_bytes": "bytes", "shuffle_bytes": "bytes", "fetch_wait_s": "s",
    "result_bytes": "bytes", "core_idle_frac": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "session.first_call_s": ("s", "lower"),
    "corpus.generate_s": ("s", "lower"),
    "text.shingle_pages_per_s": ("1/s", "higher"),
    "bloom.insert_per_s": ("1/s", "higher"),
    "bloom.probe_per_s": ("1/s", "higher"),
    "mibf.gather_per_s": ("1/s", "higher"),
    "maker.build_s": ("s", "lower"),
    "maker.merge_s": ("s", "lower"),
    "maker.load_registry_s": ("s", "lower"),
    "maker.registry_bytes": ("bytes", "lower"),
    "maker.fpr_ratio": ("ratio", "lower"),
    "categorizer.classify_s": ("s", "lower"),
    "categorizer.broadcast_bytes": ("bytes", "lower"),
    "mibf.build_s": ("s", "lower"),
    "mibf.classify_s": ("s", "lower"),
    "mibf.id_array_bytes": ("bytes", "lower"),
    "mibf.saturation_rate": ("ratio", "lower"),
    "mibf.occupancy": ("ratio", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def _counter_specs() -> dict:
    from tracing import COUNTERS, LAYERS

    return {
        f"{layer}.{c}": (_COUNTER_UNITS[c], "lower") for layer in LAYERS for c in COUNTERS
    }


def _proc_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak resident memory of this process tree, sampled from /proc."""

    def __init__(self, interval_s: float):
        self.interval_s = interval_s
        self.peak = _tree_rss_bytes()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, _tree_rss_bytes())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _host_line() -> dict:
    """nproc + the pure-CPU calibration frozen ``bench.py`` records."""
    spec = importlib.util.spec_from_file_location(
        "scaling_bench", os.path.join(ROOT, "tools", "scaling_bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["scaling_bench"] = mod  # makes _busy picklable for mp.Pool
    spec.loader.exec_module(mod)
    nproc = os.cpu_count() or 1
    return {"nproc": nproc, "calibration": mod.run_calibration(max(1, nproc // 4))}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every process they started.

    The JVM's Python workers are re-parented when the JVM exits, so the
    process tree is listed before the stop and each pid is waited on.
    """
    from pyspark import SparkContext

    started = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(map(_alive, started)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in filter(_alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(map(_alive, started)):
        time.sleep(0.1)


def _tail_s(samples: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it, and its value."""
    n = len(samples)
    if n < 11:
        return None, None
    s = sorted(samples)
    return 100.0 * (n - 10) / n, s[n - 11]


def _csv(xs: list[float]) -> str:
    return ",".join(f"{x:.3f}" for x in xs)


def _json_state(name: str) -> dict:
    path = os.path.join(WORK, name)
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def _save_state(name: str, state: dict) -> None:
    with open(os.path.join(WORK, name), "w") as fh:
        json.dump(state, fh, indent=1, sort_keys=True)


def run(args, t_imports: float, rss: RssSampler) -> dict:
    from biobloom_spark.corpus import generate_corpus_pandas
    from biobloom_spark.operators.categorizer import summarize_fused
    from biobloom_spark.operators.maker import build_filters, load_registry
    from biobloom_spark.operators.mibf import build_mibf, classify_mibf, mibf_summarize
    from biobloom_spark.session import get_spark

    import workloads as W
    from tracing import Recorder, fold_event_log, layer_counters

    wl = W.WORKLOADS[args.workload]
    traced = bool(args.trace)
    cores = os.cpu_count() or 1
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    log_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
    if traced:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })

    # -- cold start -----------------------------------------------------
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                      driver_memory="1g", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    rec = Recorder(spark.sparkContext, traced)
    try:
        t0 = time.perf_counter()
        rec.trace_id = "cold"
        pdf = generate_corpus_pandas(
            COLD_PAGES, seed=args.seed, langs=COLD_LANGS, mean_tokens=COLD_TOKENS
        )
        cold = spark.createDataFrame(pdf[["url", "text", "lang"]])
        reg = rec.call("cold.maker.build", lambda: build_filters(spark, cold, id_col=W.ID_COL))
        filters = rec.call("cold.load_registry", lambda: load_registry(reg))
        summary = rec.call(
            "cold.categorizer",
            lambda: summarize_fused(spark, cold, filters, id_col=W.ID_COL).collect(),
        )
        first_call_s = time.perf_counter() - t0
        cold_start_s = t_imports + get_spark_s + first_call_s
        marks = {"cold_start": _proc_age_s()}
        by_id = {r["filter_id"]: r for r in summary}
        short = [k for k, n in pdf["lang"].value_counts().items() if by_id[k]["hits"] < n]
        rec.check(not short, f"cold start: Bloom false negatives for {short}")
        # the first miBF calls of a session compile their plans and start
        # fresh Python workers: pay that here, outside every measurement
        sketch = rec.call("cold.mibf.build", lambda: build_mibf(spark, cold, key_col="lang"))
        msummary = rec.call("cold.mibf.classify", lambda: mibf_summarize(
            classify_mibf(spark, cold, sketch, id_col=W.ID_COL)).collect())
        n_docs = sum(int(r["n_docs"]) for r in msummary)
        rec.check(n_docs == COLD_PAGES, f"cold start: mibf_summarize n_docs = {n_docs}")

        # -- set-up -----------------------------------------------------
        setup_s, gen_s = [], []
        for i in range(SETUP_REPS):
            rec.trace_id = f"setup.{i}"
            t0 = time.perf_counter()
            corpus, g = rec.call("corpus", lambda: W.make_corpus(spark, wl, args.seed, cores))
            setup_s.append(time.perf_counter() - t0)
            gen_s.append(g)
            if i < SETUP_REPS - 1:
                corpus.docs.unpersist(blocking=True)
                corpus.queries.unpersist(blocking=True)
        W.expected_counts(spark, wl, corpus)
        marks["setup"] = _proc_age_s()
        W.prepare_merge(rec, spark, wl, corpus)
        marks["merge_inputs"] = _proc_age_s()
        labels = len({k for kp in corpus.key_pages.values() for k in kp})
        print(f"# workload={wl.name} seed={args.seed} pages={corpus.pages} "
              f"classified={corpus.query_pages} labels={labels} "
              f"batches={len(corpus.batch_ids)}", flush=True)

        # -- measured passes ----------------------------------------------
        passes, tagged = [], []
        deadline = time.perf_counter() + args.seconds
        while len(passes) < 1 + traced or time.perf_counter() < deadline:
            if passes:
                passes[-1].registry.unpersist()
            # a traced run alternates untagged and tagged passes; untagged
            # jobs fall into the group the last tagged call left (AUX_GROUP)
            rec.traced = traced and len(passes) % 2 == 1
            # collect garbage between passes, outside the timed calls, so a
            # pause left over from one pass does not land in the next
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            try:
                passes.append(W.run_pass(rec, spark, wl, corpus, len(passes)))
                tagged.append(rec.traced)
            except Exception:  # the failed call is counted; stop measuring
                traceback.print_exc()
                break
        if not passes:
            raise RuntimeError(f"no pass completed ({rec.failed} failed operations)")
        digests = {p.digest for p in passes}
        rec.check(len(digests) == 1, f"output_digest differs across passes: {sorted(digests)}")
        last = passes[-1]
        reg_bytes = W.registry_bytes(spark, last.registry) if traced else 0
        fpr_ratio = W.fpr_ratio(last.filters)
        marks["passes"] = _proc_age_s()
    finally:
        _stop_spark(spark)
    marks["stopped"] = _proc_age_s()

    digest = last.digest
    seen = _json_state("digests.json")
    key = f"{wl.name}:{args.seed}"
    rec.check(seen.get(key, digest) == digest,
              f"output_digest {digest} != {seen.get(key)} from an earlier run of this seed")
    seen[key] = digest
    _save_state("digests.json", seen)

    e2e = W.step_medians(passes)
    steps = [s.wall_s for p in passes for s in p.steps]
    print(f"# output_digest={digest}", flush=True)
    print(f"# passes={len(passes)} steps={len(steps)} (pass_s = median over {len(steps)} steps)")
    for i, p in enumerate(passes):
        print(f"#   pass {i}: mibf_build={_csv(p.mibf_build_s)} s; steps (wall/build/classify/"
              "mibf_classify s): " + "; ".join(
                  f"{s.wall_s:.3f}/{_csv(s.build_s)}/{_csv(s.classify_s)}/{_csv(s.mibf_classify_s)}"
                  for s in p.steps))
    if wl.batch_pages:
        pct, tail = _tail_s(steps)
        print(f"# batch_p50_s={statistics.median(steps):.4f} s over {len(steps)} batches; "
              + (f"batch_tail_s=p{pct:.0f} {tail:.4f} s" if tail is not None else
                 "batch_tail_s=n/a (needs >= 11 batches: >= 10 beyond the percentile)"))
    print("# timeline (s since process start): "
          + ", ".join(f"{k} {v:.1f}" for k, v in marks.items()))
    print(f"# ops attempted={rec.attempted} failed={rec.failed} "
          f"ops_failed_ratio={rec.failed / rec.attempted:.4f}", flush=True)

    if not traced:
        metrics = dict(e2e)
        metrics["setup_s"] = statistics.median(setup_s)
        metrics["cold_start_s"] = cold_start_s
        metrics["peak_rss_mb"] = rss.peak / 2**20
        specs = END_TO_END
    else:
        from kernels import kernel_probes

        totals = fold_event_log(log_dir)
        shutil.rmtree(log_dir)
        med = statistics.median
        t = rec.times
        walls = {flag: [s.wall_s for p, f in zip(passes, tagged) if f == flag for s in p.steps]
                 for flag in (False, True)}
        if not (walls[False] and walls[True]):
            raise RuntimeError(f"no tagged pass to compare ({rec.failed} failed operations)")
        overhead = med(walls[True]) / med(walls[False]) - 1.0
        print(f"# trace.overhead_frac over {len(walls[True])} tagged and "
              f"{len(walls[False])} untagged steps")
        metrics = {
            "session.get_spark_s": get_spark_s,
            "session.first_call_s": first_call_s,
            "corpus.generate_s": med(gen_s),
            "maker.build_s": med(t["maker.build"]),
            # 0 where the workload makes no merge, like the layer counters
            "maker.merge_s": med(t["maker.merge"]) if t["maker.merge"] else 0.0,
            "maker.load_registry_s": med(t["maker.load_registry"]),
            "maker.registry_bytes": reg_bytes,
            "maker.fpr_ratio": fpr_ratio,
            "categorizer.classify_s": med(t["categorizer"]),
            "categorizer.broadcast_bytes": W.broadcast_bytes(last.filters),
            "mibf.build_s": med(t["mibf.build"]),
            "mibf.classify_s": med(t["mibf.classify"]),
            "mibf.id_array_bytes": last.sketch.ids.nbytes,
            "mibf.saturation_rate": last.sketch.saturation_rate(),
            "mibf.occupancy": last.sketch.occupancy(),
            "trace.pass_s": e2e["pass_s"],
            "trace.overhead_frac": overhead,
        }
        metrics.update(layer_counters(totals, rec, cores))
        metrics.update(kernel_probes(PROBE_PAGES, args.seed, wl.corpus_kw))
        rec.write_spans(os.path.join(WORK, f"spans-{wl.name}-{args.seed}.jsonl"))
        specs = {**PER_LAYER, **_counter_specs()}

    missing = set(specs) ^ set(metrics)
    if missing:
        raise RuntimeError(f"metric set mismatch: {sorted(missing)}")
    for name, (unit, _better) in specs.items():
        print(f"# {name} = {metrics[name]:.6g} {unit}")
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {
            name: {"value": float(metrics[name]), "unit": unit}
            for name, (unit, _better) in specs.items()
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("biobloom_spark/__init__.py", "tools/scaling_bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=sys.stderr)
            return 2
    if args.seed < 0:
        print("perfbench: --seed must be >= 0", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # keep every scratch file (package zip, spill, JVM temp) in the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    tempfile.tempdir = None
    sys.path[:0] = [HERE, ROOT]

    import pyspark  # noqa: F401  (the program's imports count toward cold start)

    import biobloom_spark.operators  # noqa: F401
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    t_imports = _proc_age_s()
    print(f"# host {json.dumps(_host_line())}", flush=True)
    with RssSampler(0.2) as rss:
        result = run(args, t_imports, rss)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
