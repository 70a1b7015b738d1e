"""One benchmark run: set up the service, drive a workload over HTTP
for the measured window, check every output, print the metrics."""

from __future__ import annotations

import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

# each workload drives one request class, so its latency is never a
# blend of classes: the /task cycle or the stored-query /calc
WORKLOADS = {
    "sync_cycles": "task",
    "calc_star": "calc",
}
CPUS = min(4, os.cpu_count() or 4)
SYNC_TABLES = ("region", "nation", "supplier", "customer", "orders", "lineitem")
FIRST_QUERY_ID = 1000
WARM_REQUESTS = 5


def _spark(work: str):
    from ora_ch_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"
                                             f" -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _job_counter(spark):
    tracker = spark.sparkContext.statusTracker()

    def jobs_so_far() -> int:
        ids = tracker.getJobIdsForGroup()
        return max(ids) + 1 if ids else 0

    return jobs_so_far


class Run:
    def __init__(self, args, root: str, work: str):
        self.args = args
        self.root = root
        self.work = work
        self.label = WORKLOADS[args.workload]
        self.results = []  # measured requests, in order
        self.warm_s = []  # latencies of the warm-up requests
        self.exports = {}  # request id -> (request, meta) of each calc
        self.snapshot: dict[str, str] = {}  # table -> directory of the files the query reads
        self.cycles_posted = 0
        self.phases: dict[str, float] = {}  # wall seconds per run phase

    # ---- set-up ----------------------------------------------------
    def setup(self) -> None:
        import client
        import datagen
        import harness
        import queries
        import schedule
        import tracing

        t_gen = time.perf_counter()
        self.paths = datagen.generate(os.path.join(self.work, "src"))
        t0 = time.perf_counter()
        self.phases["inputs"] = t0 - t_gen
        self.spark = _spark(self.work)
        self.phases["session"] = time.perf_counter() - t0
        self.sched = schedule.sync_schedule(self.args.seed)
        self.sources = harness.Sources(self.spark, self.paths, self.sched.start_cursor)
        self.svc = harness.Service(self.spark, os.path.join(self.work, "warehouse"), self.sources)
        self.tracer = tracing.Tracer() if self.args.trace else None
        self.uninstall = (
            tracing.install(self.tracer, self.svc.engine) if self.tracer else None
        )
        http = client.Http(self.svc.port)
        jobs = _job_counter(self.spark)
        self.task_client = client.Client(http, "task", self.tracer, jobs)
        self.calc_client = client.Client(http, "calc", self.tracer, jobs)
        self._query_ids = iter(range(FIRST_QUERY_ID, 10**9))

        # set-up seeds the tables the workload's requests read
        self.tables = SYNC_TABLES if self.label == "task" else queries.TABLES
        t_seed = time.perf_counter()
        seed = self.task_client.run(schedule.seed_body(self.tables), "seed")
        if not seed.ok:
            raise RuntimeError(f"seeding the store failed: {seed.error}")
        t_warm = time.perf_counter()
        self.phases["seed"] = t_warm - t_seed
        if self.label == "calc":
            self.calc_sched = iter(schedule.calc_schedule(self.args.seed))
            # nothing writes the tables the query reads after seeding
            self.snapshot = harness.bind_snapshot(
                self.spark, self.svc.store, os.path.join(self.work, "snapshot"), self.tables
            )
        # warm-up: request latency keeps falling for the first few
        # requests (JIT, codegen, caches); these bring it to its
        # plateau before the measured window opens
        for _ in range(WARM_REQUESTS):
            res = self._request()
            if not res.ok:
                raise RuntimeError(f"warm-up request failed: {res.error}")
            self.warm_s.append(res.latency_s)
        self.exports.clear()  # the outputs of the measured requests are checked
        self.setup_s = time.perf_counter() - t0
        self.phases["warm_up"] = t0 + self.setup_s - t_warm

    # ---- requests --------------------------------------------------
    def _request(self):
        """Send the workload's next request and wait for its end."""
        import schedule

        if self.label == "task":
            cycle = self.sched.cycles[self.cycles_posted]
            self.sources.set_cycle(cycle)
            self.cycles_posted += 1
            return self.task_client.run(cycle.body(), "task")
        req = next(self.calc_sched)
        qid = next(self._query_ids)
        meta = self.svc.register_query(qid)
        res = self.calc_client.run(schedule.calc_body(req, qid), "calc", qid)
        self.exports[res.rid] = (req, meta)
        return res

    def measure(self) -> None:
        """Closed loop: one client, the next request only after the
        previous one reported its end. The /calc window closes after
        whole rounds of the promote period, so every run measures the
        same share of promotions."""
        import schedule

        period = 1 if self.label == "task" else schedule.PROMOTE_EVERY
        t0 = time.perf_counter()
        deadline = t0 + self.args.seconds
        while time.perf_counter() < deadline or len(self.results) % period:
            self.results.append(self._request())
        if self.uninstall:
            self.uninstall()
        self.phases["measure"] = time.perf_counter() - t0

    # ---- correctness -----------------------------------------------
    def check(self) -> None:
        import harness
        import oracle
        from ora_ch_spark.validate import golden_aggregates

        t0 = time.perf_counter()
        store = self.svc.store
        replay = oracle.SyncReplay(self.paths, self.sched, self.cycles_posted)
        tables = [(t, rel) for t in self.tables + ("lineitem_win",)
                  if (rel := replay.relation(t))]
        # the Spark-side table aggregates run as concurrent jobs while
        # DuckDB evaluates everything else on this thread
        with ThreadPoolExecutor(max_workers=CPUS) as pool:
            got = [pool.submit(golden_aggregates, store.read("ch", t)) for t, _ in tables]
            calc_oracle = oracle.CalcOracle(self.snapshot)
            self.calc_mismatches = []
            for res in self.results:
                if not res.ok or res.rid not in self.exports:
                    continue
                req, meta = self.exports[res.rid]
                files = store.read(harness.EXPORT_SCHEMA, meta.ora_table).inputFiles()
                exported = calc_oracle.export_golden([f.removeprefix("file:") for f in files])
                want = calc_oracle.golden(req.params, list(exported[1]))
                if not oracle.matches(exported, want):
                    res.ok = False
                    res.error = f"export {meta.ora_table} differs from its oracle"
                    self.calc_mismatches.append(meta.ora_table)
            calc_oracle.close()
            self.table_mismatches = []
            for (t, rel), fut in zip(tables, got):
                g = fut.result()
                want = oracle.golden(replay.con, rel, list(g.sums))
                if not oracle.matches((g.count, g.sums), want):
                    self.table_mismatches.append(t)
        replay.con.close()
        self.phases["check"] = time.perf_counter() - t0

    # ---- metrics ---------------------------------------------------
    def attempted_failed(self) -> tuple[int, int]:
        attempted = len(self.results)
        failed = sum(not r.ok for r in self.results)
        # a target table that disagrees with the replay fails the
        # requests that wrote it: count each such table once
        failed = min(attempted, failed + len(self.table_mismatches))
        return attempted, failed

    def latencies(self) -> list[float]:
        """Completion latencies of the measured requests that succeeded,
        in order."""
        return [r.latency_s for r in self.results if r.ok]

    def figures(self) -> dict:
        """The request class's median, its tail where the window holds
        enough samples for one, and the failure ratio."""
        import stats

        lat = self.latencies()
        attempted, failed = self.attempted_failed()
        out = {
            "class": self.label,
            "p50_s": stats.median(lat),
            "samples": len(lat),
            "failed_ratio": failed / attempted,
        }
        tail = stats.tail(lat)
        if tail is not None:
            out["tail_s"], out["tail_percentile"] = tail
        if self.label == "task":
            rows = sum(sum(r.rows_by_op.values()) for r in self.results if r.ok)
            out["sync_rows_per_s"] = rows / sum(lat) if lat else 0.0
        return out

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """Metrics every workload reports. ``latency_s`` is the mean
        completion latency of the workload's one request class. A run in
        which no request succeeded is incorrect; it then reports the
        failed requests' mean, never 0."""
        lat = self.latencies() or [r.latency_s for r in self.results]
        return {
            "setup_s": (self.setup_s, "s"),
            "latency_s": (statistics.fmean(lat), "s"),
        }

    def store_shape(self) -> tuple[float, float]:
        """(data files per sync table, bytes per row) at run end."""
        store = self.svc.store
        files, nbytes, rows = [], 0, 0
        for t in self.tables + ("lineitem_win",):
            if store.table_exists("ch", t):
                files.append(len(store.read("ch", t).inputFiles()))
                nbytes += store.table_bytes("ch", t)
                rows += store.row_count("ch", t)
        return statistics.fmean(files), nbytes / max(rows, 1)

    def per_layer(self) -> dict[str, tuple[float, str]]:
        import layers

        return layers.metrics(self)

    def close(self) -> None:
        """Stop the server and the Spark session, then end the JVM and
        wait for it (it exits when its stdin pipe closes)."""
        from pyspark import SparkContext

        if hasattr(self, "svc"):
            self.svc.close()
        if hasattr(self, "spark"):
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)


def write_spans(tracer, root: str, args) -> str:
    """Spans as JSON lines: name, layer, start, end, parent, request id."""
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
    with open(path, "w") as fh:
        for s in tracer.spans:
            fh.write(json.dumps({
                "id": s.id, "name": s.name, "layer": s.layer, "start": s.start,
                "end": s.end, "parent": s.parent, "rid": s.rid,
            }) + "\n")
    return os.path.relpath(path, root)


def execute(args, root: str, work: str) -> int:
    import client

    run = Run(args, root, work)
    try:
        run.setup()
        run.measure()
        run.check()
        attempted, failed = run.attempted_failed()
        metrics = run.per_layer() if args.trace else run.end_to_end()
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "poll_interval_s": client.POLL_S,
            "setup_s": run.setup_s,
            "warm_up_latencies_s": run.warm_s,
            "phases_s": run.phases,
            "cycles_posted": run.cycles_posted,
            "figures": run.figures(),
            "latencies_s": [r.latency_s for r in run.results],
            "table_mismatches": run.table_mismatches,
            "calc_mismatches": run.calc_mismatches,
            "errors": [r.error for r in run.results if r.error],
        }
        correct = failed == 0 and not run.table_mismatches and not run.calc_mismatches
    finally:
        run.close()
    if args.trace:
        detail["spans_file"] = write_spans(run.tracer, root, args)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0
