"""Layer-attributed benchmark of the ds_mapreduce_spark package.

Usage, from the repository root:

    python3 perfbench/run.py --workload media_codecs --seed 1 --seconds 14 --trace 0

One run sets up a Spark session at local[<cores>], warms every query of
the workload on the small warm tables, then makes a fixed number of timed
passes over the bench tables, checks the outputs, and prints a JSON
line with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (see README.md and BENCHMARK.json). Everything it writes
goes under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
BENCH_SF = 0.01
WARM_SF = 0.001
#: The timed passes of a run: U untraced, T traced. Passes keep getting
#: faster for several passes after the warm pass (the JIT and the Python
#: worker pool are still settling), so the pass count is fixed rather than
#: set by the clock: a faster program or machine must not get to report
#: later, warmer passes. A traced run puts its traced passes in the middle,
#: so that the drift between the first and the last pass does not bias
#: the tracing overhead.
UNTRACED_PASSES = "UUU"
TRACED_PASSES = "UTTU"

sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import workloads as W  # noqa: E402


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="nominal run length; the pass count is fixed and does not depend on it")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(run_dir: Path) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run directory; must run before pyspark launches the JVM."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))  # for the Python workers
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"  # a bounded heap keeps peak_rss_mb steady
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.chdir(run_dir)  # spark-warehouse/ and derby.log land here


def write_feeds(src_dir: str, dst: Path, workload: W.Workload, seed: int) -> dict[str, str]:
    """Split each fold's feed table into seeded micro-batch files."""
    import pyarrow.parquet as pq

    feeds = {}
    for table in dict.fromkeys(f.feed for f in workload.folds):
        t = pq.read_table(f"{src_dir}/{table}.parquet")
        cuts = W.cut_points(t.num_rows, seed, table)
        d = dst / table
        d.mkdir(parents=True)
        for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
            pq.write_table(t.slice(lo, hi - lo), d / f"part-{i:05d}.parquet")
        feeds[table] = str(d)
    return feeds


def du(path: Path) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for p in path.rglob("*"):
        if p.is_file():
            size += p.stat().st_size
            files += 1
    return size, files


class Runner:
    """One benchmark run of one workload."""

    def __init__(self, workload: W.Workload, seed: int, run_dir: Path,
                 bench_dir: str, warm_dir: str, traced: bool) -> None:
        self.w = workload
        self.seed = seed
        self.run_dir = run_dir
        self.bench_dir = bench_dir
        self.warm_dir = warm_dir
        self.traced = traced
        self.attempted = 0
        self.failures: list[str] = []
        self.answers: dict[str, list[tuple[list, list]]] = {}
        self.layers: list[dict[str, float]] = []
        self.once: dict[str, float] = {}
        self.tracer = None
        self.status = None
        self.spark = None
        self.registry = None
        self.feeds: dict[str, dict[str, str]] = {}

    # -- set-up -----------------------------------------------------------

    def write_feeds(self) -> None:
        if self.w.streaming:
            self.feeds["bench"] = write_feeds(self.bench_dir, self.run_dir / "feeds/bench",
                                              self.w, self.seed)
            self.feeds["warm"] = write_feeds(self.warm_dir, self.run_dir / "feeds/warm",
                                             self.w, self.seed)

    def setup(self, t0: float) -> float:
        """Session, registry and warm pass; ``t0`` is when the package
        import began. Returns the set-up time."""
        from ds_mapreduce_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.time()
        from ds_mapreduce_spark.plans.registry import load_all

        self.registry = load_all()
        t2 = time.time()
        if self.traced:
            from probes import StatusStore
            from spans import Tracer

            self.status = StatusStore(self.spark)
            self.tracer = Tracer()
            self.tracer.record("session.get_spark", "session", "setup", t0, t1)
            self.tracer.record("plans.load_all", "plans", "setup", t1, t2)
        self.run_pass("warm", self.warm_dir, list(self.w.items))
        t3 = time.time()
        self.once.update({"session.get_spark_s": t1 - t0, "plans.load_all_s": t2 - t1,
                          "session.warm_s": t3 - t2})
        return t3 - t0

    # -- one pass ---------------------------------------------------------

    def run_pass(self, label: str, sf_dir: str, order: list[str],
                 layer: dict | None = None) -> float:
        """Run every item once; returns the summed time of the items,
        failed ones included. Dropping the dead checkpoint blocks (as
        bench.py does between queries) and the fold state between items is
        not timed."""
        from bench import _drop_dead_checkpoint_blocks

        total = 0.0
        for item in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if self.w.streaming:
                    self._fold(label, item, layer)
                else:
                    self._query(item, sf_dir, layer)
            except Exception as exc:  # a failing item is counted, the run goes on
                self.failures.append(f"{label}:{item}: {type(exc).__name__}: {exc}"[:400])
                traceback.print_exc(file=sys.stderr)
            elapsed = time.perf_counter() - t0
            total += elapsed
            log(f"{label} {item} {elapsed:.3f}s")
            _drop_dead_checkpoint_blocks(self.spark)
            shutil.rmtree(self.run_dir / "state", ignore_errors=True)
        return total

    def _query(self, name: str, sf_dir: str, layer: dict | None) -> None:
        fn = self.registry[name].fn
        if layer is None:
            fn(self.spark, sf_dir).write.format("noop").mode("overwrite").save()
            return
        tr, st = self.tracer, self.status
        mark = st.mark()
        with tr.span(f"query:{name}", "bench", f"{name}#{len(tr.spans)}"):
            with tr.span("plans.build", "plans") as bs:
                df = fn(self.spark, sf_dir)
            build = st.since(mark)
            tr.add_spark(bs, build)
            with tr.span("plans.optimize", "plans") as os_:
                df._jdf.queryExecution().executedPlan()
            mark = st.mark()
            with tr.span("operators.exec", "operators") as es:
                df.write.format("noop").mode("overwrite").save()
            run = st.since(mark)
            tr.add_spark(es, run)
        layer["plans.build_s"] += bs["end"] - bs["start"]
        layer["plans.build_jobs"] += len(build.jobs)
        layer["plans.optimize_s"] += os_["end"] - os_["start"]
        layer["plans.exchanges"] += run.exchanges
        layer["plans.map_in_pandas_nodes"] += run.map_in_pandas
        self._add_operators(layer, run, es["end"] - es["start"])

    def _fold(self, label: str, fn_name: str, layer: dict | None) -> None:
        from ds_mapreduce_spark.streaming import jobs

        fold = next(f for f in self.w.folds if f.fn == fn_name)
        feed = self.feeds["warm" if label == "warm" else "bench"][fold.feed]
        base = self.run_dir / "state" / fn_name
        state, ckpt = base / "state", base / "ckpt"
        fn = getattr(jobs, fn_name)
        if layer is None:
            out = fn(self.spark, feed, str(state), str(ckpt))
            rows, cols = out.collect(), out.columns
        else:
            tr, st = self.tracer, self.status
            mark = st.mark()
            with tr.span(f"fold:{fold.twin}", "bench", f"{fold.twin}#{len(tr.spans)}"):
                with tr.span("streaming.fold", "streaming") as fs:
                    out = fn(self.spark, feed, str(state), str(ckpt))
                folded = st.since(mark)
                tr.add_spark(fs, folded)
                mark = st.mark()
                with tr.span("streaming.read", "streaming") as rs:
                    rows, cols = out.collect(), out.columns
                read = st.since(mark)
                tr.add_spark(rs, read)
            fold_s, read_s = fs["end"] - fs["start"], rs["end"] - rs["start"]
            layer["streaming.fold_s"] += fold_s
            layer["streaming.read_s"] += read_s
            layer["streaming.batches"] += sum(
                1 for p in (ckpt / "commits").iterdir() if p.name.isdigit())
            layer["streaming.jobs"] += len(folded.jobs)
            layer["streaming.state_mb_written"] += du(state)[0] / 2**20
            layer["streaming.feed_mb"] += du(Path(feed))[0] / 2**20
            layer["streaming.ckpt_files"] += du(ckpt)[1]
            for win, secs in ((folded, fold_s), (read, read_s)):
                self._add_operators(layer, win, secs)
                layer["plans.exchanges"] += win.exchanges
                layer["plans.map_in_pandas_nodes"] += win.map_in_pandas
        if label.startswith("pass"):
            self.answers.setdefault(fn_name, []).append((rows, cols))

    def _add_operators(self, layer: dict, win, exec_s: float) -> None:
        layer["operators.exec_s"] += exec_s
        layer["operators.task_run_s"] += win.total("run_s")
        layer["operators.task_cpu_s"] += win.total("cpu_s")
        layer["operators.gc_s"] += win.total("gc_s")
        layer["operators.shuffle_write_mb"] += win.total("shuffle_write_bytes") / 2**20
        layer["operators.shuffle_read_mb"] += win.total("shuffle_read_bytes") / 2**20
        layer["operators.spill_mb"] += win.total("spill_bytes") / 2**20
        layer["operators.stages"] += len(win.stages)
        layer["operators.tasks"] += win.total("tasks")
        layer["sources.input_mb"] += win.total("input_bytes") / 2**20
        layer["sources.input_rows"] += win.total("input_rows")
        for k, v in win.py.items():
            if k.endswith("_bytes"):
                layer[f"operators.py.{k[:-6]}_mb"] += v / 2**20
            else:
                layer[f"operators.py.{k}"] += v

    # -- timed passes -----------------------------------------------------

    def measure(self, proc) -> dict[str, list[float]]:
        """The timed passes, UNTRACED_PASSES or TRACED_PASSES."""
        plan = TRACED_PASSES if self.traced else UNTRACED_PASSES
        orders = W.pass_order(self.w.items, self.seed, len(plan))
        res: dict[str, list[float]] = {"wall": [], "cpu": [], "traced_wall": []}
        for i, (kind, order) in enumerate(zip(plan, orders)):
            cpu0 = proc.cpu_s()
            if kind == "T":
                layer = _zero_layer()
                with self.tracer.span(f"pass:{i}", "bench", f"pass{i}"):
                    wall = self.run_pass(f"pass{i}", self.bench_dir, order, layer)
                self.layers.append(layer)
                res["traced_wall"].append(wall)
            else:
                wall = self.run_pass(f"pass{i}", self.bench_dir, order)
                res["wall"].append(wall)
                res["cpu"].append(proc.cpu_s() - cpu0)
        return res

    # -- output check -----------------------------------------------------

    def check(self) -> None:
        if self.w.streaming:
            self._check_folds()
        else:
            self._check_queries()

    def _check_queries(self) -> None:
        from bench import _drop_dead_checkpoint_blocks
        from check import oracle_mismatch

        for name in self.w.items:
            self.attempted += 1
            q = self.registry[name]
            try:
                df = q.fn(self.spark, self.bench_dir)
                rows, cols = df.collect(), df.columns
                if q.oracle is None:
                    why = None if rows else "rows-only query returned no rows"
                else:
                    why = oracle_mismatch(rows, cols, *self._oracle(name, q.oracle))
            except Exception as exc:  # noqa: BLE001 - reported by name below
                why = f"{type(exc).__name__}: {exc}"
            if why:
                self.failures.append(f"check:{name}: {why}"[:400])
            _drop_dead_checkpoint_blocks(self.spark)

    def _oracle(self, name: str, sql: str) -> tuple[list, list]:
        """The DuckDB oracle's normalized rows and sorted columns on the bench
        tables. The tables are fixed, so the answer is cached per checkout,
        keyed by the oracle's SQL text: some oracles run a whole codec in
        SQL and take a minute."""
        from check import normalize

        path = Path(self.bench_dir) / "oracle" / (
            f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json")
        if path.is_file():
            cached = json.loads(path.read_text())
            return [tuple(r) for r in cached["rows"]], cached["columns"]
        import duckdb

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.bench_dir}/{t}.parquet'")
        rel = con.sql(sql)
        cols = sorted(rel.columns)
        rows = normalize(rel.fetchall(), rel.columns)
        path.parent.mkdir(exist_ok=True)
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps({"columns": cols, "rows": rows}))
        os.replace(tmp, path)
        return rows, cols

    def _check_folds(self) -> None:
        from check import twin_mismatch

        for fold in self.w.folds:
            try:
                twin = self.registry[fold.twin].fn(self.spark, self.bench_dir)
                t_rows, t_cols, t_err = twin.collect(), twin.columns, None
            except Exception as exc:  # noqa: BLE001 - reported by name below
                t_rows, t_cols, t_err = [], [], f"batch twin raised {type(exc).__name__}: {exc}"
            for rows, cols in self.answers.get(fold.fn, []):
                self.attempted += 1
                why = t_err or twin_mismatch(rows, cols, t_rows, t_cols)
                if why:
                    self.failures.append(f"check:{fold.fn} vs {fold.twin}: {why}"[:400])

    # -- traced-only layers -----------------------------------------------

    def scan_tables(self) -> float:
        from ds_mapreduce_spark.sources.catalog import load_table

        total = 0.0
        for t in self.w.tables:
            with self.tracer.span(f"scan:{t}", "sources", "scan") as s:
                load_table(self.spark, self.bench_dir, t).write.format("noop").mode(
                    "overwrite").save()
            total += s["end"] - s["start"]
        return total

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait until both have ended."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


LAYER_KEYS = (
    "plans.build_s", "plans.build_jobs", "plans.optimize_s", "plans.exchanges",
    "plans.map_in_pandas_nodes", "sources.input_mb", "sources.input_rows",
    "operators.exec_s", "operators.task_run_s", "operators.task_cpu_s", "operators.gc_s",
    "operators.shuffle_write_mb", "operators.shuffle_read_mb", "operators.spill_mb",
    "operators.stages", "operators.tasks", "operators.py.sent_mb",
    "operators.py.returned_mb", "operators.py.worker_start_s", "operators.py.worker_init_s",
    "operators.py.worker_run_s", "streaming.fold_s", "streaming.read_s",
    "streaming.batches", "streaming.jobs", "streaming.state_mb_written",
    "streaming.feed_mb", "streaming.ckpt_files",
)


def _zero_layer() -> dict[str, float]:
    return dict.fromkeys(LAYER_KEYS, 0.0)


def reap_children() -> None:
    """Stop any process this run started that is still alive, and reap
    the ones that were its direct children."""
    from probes import ProcTree

    tree = ProcTree()

    def others() -> list[int]:
        while True:  # collect exited direct children, so none is left a zombie
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        return [int(pid) for pid, st in tree.members() if pid != tree.root and st[0] != "Z"]

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in others():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for _ in range(50):
            if not others():
                return
            time.sleep(0.1)


def _on_sigterm(*_) -> None:
    """A terminated run still stops the JVM and the Python workers. It exits
    at once: py4j's callback threads would keep a normal exit waiting."""
    reap_children()
    os._exit(143)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end_metrics(setup_s: float, res: dict, input_rows: int, peak_rss_mb: float,
                       failed: int, attempted: int) -> dict:
    wall = statistics.median(res["wall"])
    return {
        "setup_s": metric(setup_s, "s"),
        "wall_s": metric(wall, "s"),
        "input_rows_per_s": metric(input_rows / wall, "rows/s"),
        "cpu_s": metric(statistics.median(res["cpu"]), "s"),
        "peak_rss_mb": metric(peak_rss_mb, "MB"),
        "success_rate": metric(1.0 - failed / attempted, "ratio"),
    }


def layer_metrics(runner: Runner, res: dict, scan_s: float, kernel_rates: dict,
                  rollup: dict) -> dict:
    spec = {m["name"]: m["unit"] for m in json.loads(
        (ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    med = {k: statistics.median(layer[k] for layer in runner.layers) for k in LAYER_KEYS}
    n_cores = cores()
    batches = med["streaming.batches"]
    values = {
        **runner.once,
        **{k: v for k, v in med.items() if k in spec},
        "sources.scan_s": scan_s,
        "operators.slot_busy_frac": med["operators.task_run_s"]
        / (n_cores * med["operators.exec_s"]) if med["operators.exec_s"] else 0.0,
        "streaming.batch_s": med["streaming.fold_s"] / batches if batches else 0.0,
        "streaming.jobs_per_batch": med["streaming.jobs"] / batches if batches else 0.0,
        "streaming.write_amp": med["streaming.state_mb_written"] / med["streaming.feed_mb"]
        if med["streaming.feed_mb"] else 0.0,
        **kernel_rates,
        "trace.overhead_s": statistics.median(res["traced_wall"]) - statistics.median(res["wall"]),
    }
    for name in spec:
        if name.startswith("trace.self_s."):
            values[name] = rollup.get(name[len("trace.self_s."):], 0.0)
    missing = set(spec) - set(values)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {name: metric(float(values[name]), unit) for name, unit in spec.items()}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _on_sigterm)
    if not (ROOT / "ds_mapreduce_spark" / "__init__.py").is_file():
        print(f"error: package ds_mapreduce_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    workload = W.WORKLOADS[args.workload]
    run_dir = WORK / "runs" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    bench_dir = datagen.ensure_tables(WORK / "data", BENCH_SF)
    warm_dir = datagen.ensure_tables(WORK / "data", WARM_SF)
    configure_env(run_dir)
    runner = Runner(workload, args.seed, run_dir, bench_dir, warm_dir, bool(args.trace))
    runner.write_feeds()

    from probes import ProcTree

    t0 = time.time()
    from bench import read_cpu_steal  # imports the package and pyspark

    steal0 = read_cpu_steal()
    proc = ProcTree()
    try:
        with proc:  # peak memory over set-up and timed passes, not the check
            setup_s = runner.setup(t0)
            log(f"set-up done in {setup_s:.2f}s")
            res = runner.measure(proc)
            log(f"timed passes done: {res['wall']} traced: {res['traced_wall']}")
        runner.check()
        log("output check done")
        if args.trace:
            scan_s = runner.scan_tables()
            import kernels

            with runner.tracer.span("kernels", "kernels", "kernels"):
                rates = kernels.measure(args.seed)
            log("scans and codec kernels done")
        runner.stop()
        log("spark stopped")
    finally:
        reap_children()
        log("processes reaped")
    steal1 = read_cpu_steal()
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    failed = len(runner.failures)
    attempted = runner.attempted
    for f in runner.failures:
        print(f"FAILED {f}")
    n_passes = len(res["wall"]) + len(res["traced_wall"])
    print(f"workload={args.workload} seed={args.seed} cores={cores()} "
          f"passes={n_passes} steal_pct={steal_pct:.2f}")

    if args.trace:
        from spans import layer_rollup, write_dump

        rollup = layer_rollup(runner.tracer.spans)
        metrics = layer_metrics(runner, res, scan_s, rates, rollup)
        dump = WORK / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
        write_dump(dump, runner.tracer.spans, rollup, {
            "workload": args.workload, "seed": args.seed, "passes": n_passes,
            "steal_pct": steal_pct, "untraced_wall_s": res["wall"],
            "traced_wall_s": res["traced_wall"], "failures": runner.failures,
        })
        print(f"trace: {dump}  self time by layer: "
              + ", ".join(f"{k}={v:.3f}s" for k, v in sorted(rollup.items())))
        print(f"tracing overhead: {metrics['trace.overhead_s']['value']:.3f}s per pass "
              f"(traced {res['traced_wall']} - untraced {res['wall']}, medians)")
    else:
        input_rows = sum(datagen.row_count(bench_dir, t) for t in workload.tables)
        metrics = end_to_end_metrics(setup_s, res, input_rows, proc.peak_rss_mb,
                                     failed, attempted)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
