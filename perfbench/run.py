"""Extraction benchmark: run one workload from a seed, check its output,
print its metrics.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 30 --trace 0

Each run starts two session hosts (host.py) and alternates timed passes
between them, in pairs, until ``--seconds`` of pass time have been
measured:

* ``--trace 0``: a local[4] and a local[1] session. Prints the
  end-to-end metrics.
* ``--trace 1``: a local[4] session with Spark's event log and spans
  around the program's public calls, and an untraced local[4] session
  whose passes give ``trace.overhead``. Prints the per-layer metrics.

The last line of stdout is the result object; the line before it holds
the run's details (seed, doc-id offset, per-pass times, span self
times). Every file the run makes lives under ``.perfbench_tmp/`` in the
checkout and is removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import socket  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from multiprocessing.connection import Connection  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
TMP_BASE = os.path.join(CHECKOUT, ".perfbench_tmp")
DEADLINE_S = 150.0  # replies after this fail the run; stopping every process takes < 25 s more
STOP_GRACE_S = 15.0  # how long processes left at the end may take to exit before they are killed
PR_SET_CHILD_SUBREAPER = 36
WORKLOAD_NAMES = ("crawl_extract", "warc_events")

END_TO_END = {
    "docs_per_s": "docs/s",
    "docs_per_s_1core": "docs/s",
    "scaling_eff": "ratio",
    "worker_peak_rss_mb": "MB",
    "jvm_peak_rss_mb": "MB",
    "stored_bytes_per_html_byte": "ratio",
    "ok_frac": "ratio",
    "setup_s": "s",
}

PER_LAYER = {
    "kernel.np_docs_per_s": "docs/s",
    "kernel.pos_docs_per_s": "docs/s",
    "kernel.events_per_doc": "count",
    "extract.docs_per_s_inproc": "docs/s",
    "extract.classifier_share": "ratio",
    "warc.parse_mb_per_s": "MB/s",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.boot_s": "s",
    "python.sent_mb": "MB",
    "python.received_mb": "MB",
    "lineage.shuffle_write_mb": "MB",
    "lineage.spill_mb": "MB",
    "lineage.output_mb": "MB",
    "lineage.output_files": "count",
    "lineage.prep_share": "ratio",
    "lineage.extract_share": "ratio",
    "lineage.write_share": "ratio",
    "lineage.readback_share": "ratio",
    "refresh.reused_frac": "ratio",
    "spark.task_skew": "ratio",
    "spark.gc_s": "s",
    "spark.executor_cpu_s_per_kdoc": "s/kdoc",
    "trace.overhead": "ratio",
}


class HostError(RuntimeError):
    pass


class Host:
    """Orchestrator-side handle of one session host process."""

    def __init__(self, cfg: dict):
        self.name = cfg["name"]
        parent, child = socket.socketpair()
        self.conn = Connection(parent.detach())
        # The host, its JVM and its Python workers write to stderr, so
        # only the orchestrator writes the result stream.
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "host.py"), str(child.fileno()), json.dumps(cfg)],
            pass_fds=(child.fileno(),),
            stdout=sys.stderr.fileno(),
        )
        child.close()

    def send(self, op: str) -> None:
        self.conn.send({"op": op})

    def recv(self) -> dict:
        left = DEADLINE_S - (time.perf_counter() - T_START)
        if left <= 0 or not self.conn.poll(left):
            raise HostError(f"host {self.name}: no reply within the run's deadline")
        msg = self.conn.recv()
        if "error" in msg:
            raise HostError(msg["error"])
        return msg

    def call(self, op: str) -> dict:
        self.send(op)
        return self.recv()

    def close(self) -> None:
        # An idle host exits when its pipe closes; its JVM exits with it.
        # stop_descendants waits for both and kills them if they do not.
        self.conn.close()


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a JVM or
    Python worker whose parent has died is re-parented here rather than
    to init, so stop_descendants still finds and reaps it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_descendants(grace_s: float) -> None:
    """Give every process below this one ``grace_s`` to exit, SIGKILL
    what is left, and reap them all; return when none is left, or 10 s
    after the kill."""
    from host import descendants  # noqa: PLC0415

    kill_at = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass  # no child left to reap
        left = descendants(os.getpid())
        now = time.monotonic()
        if not left or now > kill_at + 10:
            return
        if now >= kill_at:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass  # ended after the scan
        time.sleep(0.05)


def _rate(passes: list[dict]) -> float:
    return sum(p["committed"] for p in passes) / sum(p["seconds"] for p in passes)


def end_to_end(
    a: list[dict], b: list[dict], fin_a: dict, html_bytes: int, setup_s: float, ok_frac: float
) -> dict:
    docs_per_s, docs_per_s_1core = _rate(a), _rate(b)
    return {
        "docs_per_s": docs_per_s,
        "docs_per_s_1core": docs_per_s_1core,
        "scaling_eff": docs_per_s / (4 * docs_per_s_1core),
        "worker_peak_rss_mb": fin_a["worker_peak_rss_mb"],
        "jvm_peak_rss_mb": fin_a["jvm_peak_rss_mb"],
        "stored_bytes_per_html_byte": statistics.median(p["stored_bytes"] for p in a) / html_bytes,
        "ok_frac": ok_frac,
        "setup_s": setup_s,
    }


def _lineage_shares(spans: list[dict], windows: list, stage_wall: list[float]) -> dict:
    """Split each traced pass: before the partitioned write (prep), the
    Python extract stage inside it, the rest of the write, and after it
    (read-back and lineage append). Shares of total pass time."""
    total = prep = extract = write = readback = 0.0
    for k, (w0, w1) in enumerate(windows):
        total += w1 - w0
        writes = [
            s for s in spans
            if s["name"] == "lineage.write_extracted_partitioned" and w0 <= s["start"] <= w1
        ]
        if not writes:
            continue
        start, end = min(s["start"] for s in writes), max(s["end"] for s in writes)
        prep += start - w0
        extract += min(stage_wall[k], end - start)
        write += (end - start) - min(stage_wall[k], end - start)
        readback += w1 - end
    return {
        "lineage.prep_share": prep / total,
        "lineage.extract_share": extract / total,
        "lineage.write_share": write / total,
        "lineage.readback_share": readback / total,
    }


def per_layer(a: list[dict], b: list[dict], fin_a: dict, reused_frac: float, layers: dict, n_docs: int) -> dict:
    ev = fin_a["events"]
    n = len(a)
    out = dict(layers)
    out.update(
        {
            "python.run_s": ev["python_run"] / n,
            "python.init_s": ev["python_init"] / n,
            "python.boot_s": ev["python_boot_session"],
            "python.sent_mb": ev["python_sent"] / 1e6 / n,
            "python.received_mb": ev["python_received"] / 1e6 / n,
            "lineage.shuffle_write_mb": ev["shuffle_write_bytes"] / 1e6 / n,
            "lineage.spill_mb": ev["disk_spilled_bytes"] / 1e6 / n,
            "lineage.output_mb": ev["output_bytes"] / 1e6 / n,
            "lineage.output_files": statistics.median(p["output_files"] for p in a),
            "refresh.reused_frac": reused_frac,
            "spark.task_skew": ev["task_skew"],
            "spark.gc_s": ev["gc_s"] / n,
            "spark.executor_cpu_s_per_kdoc": ev["executor_cpu_s"] / (n * n_docs / 1000),
            "trace.overhead": 1.0 - _rate(a) / _rate(b),
        }
    )
    out.update(_lineage_shares(fin_a["spans"], fin_a["windows"], ev["python_stage_wall_s"]))
    return out


def run(args, run_root: str) -> tuple[dict, dict]:
    from layers import layer_timings  # noqa: PLC0415
    from spans import self_times  # noqa: PLC0415
    from workloads import N_DOCS, WORKLOADS, start_id_for  # noqa: PLC0415

    if args.trace:
        roles = [("a", 4, True), ("b", 4, False)]
    else:
        roles = [("a", 4, False), ("b", 1, False)]
    hosts: list[Host] = []

    def spawn(name: str, cores: int, traced: bool) -> Host:
        cfg = {"name": name, "cores": cores, "traced": traced, "workload": args.workload,
               "seed": args.seed, "root": run_root}
        hosts.append(Host(cfg))
        return hosts[-1]

    try:
        a, b = (spawn(*r) for r in roles)
        html_bytes = WORKLOADS[args.workload].stage(run_root, args.seed)
        phases = {"staged": time.perf_counter() - T_START}
        for h in (a, b):
            h.recv()
        phases["sessions"] = time.perf_counter() - T_START
        for h in (a, b):
            h.send("warm")
        for h in (a, b):
            h.recv()
        setup_s = time.perf_counter() - T_START
        phases["warm"] = setup_s

        passes: dict[str, list[dict]] = {"a": [], "b": []}
        timed = 0.0
        while timed < args.seconds:
            for h in (a, b):
                p = h.call("pass")
                passes[h.name].append(p)
                timed += p["seconds"]
        reused = 0.0
        if args.trace and args.workload == "crawl_extract":
            reused = a.call("refresh")["reused_frac"]
        a.send("finish")
        b.send("finish")
        fin_a = a.recv()
        b.recv()
    finally:
        for h in hosts:
            h.close()

    all_passes = passes["a"] + passes["b"]
    failed = sum(p["failed"] for p in all_passes)
    attempted = sum(p["committed"] + p["failed"] for p in all_passes)
    start_id = start_id_for(args.seed)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "start_id": start_id,
        "docs_per_pass": N_DOCS,
        "setup_phases_s": {k: round(v, 3) for k, v in phases.items()},
        "pass_seconds": {k: [round(p["seconds"], 4) for p in v] for k, v in passes.items()},
        "mismatches": sum(p["mismatches"] for p in all_passes),
    }
    if args.trace:
        metrics = per_layer(passes["a"], passes["b"], fin_a, reused, layer_timings(start_id), N_DOCS)
        detail["span_self_s"] = self_times(fin_a["spans"])
        detail["spans"] = fin_a["spans"]
        units = PER_LAYER
    else:
        ok_frac = 1.0 - failed / attempted
        metrics = end_to_end(passes["a"], passes["b"], fin_a, html_bytes, setup_s, ok_frac)
        units = END_TO_END
    result = {
        "correct": all(p["correct"] for p in all_passes),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return detail, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(CHECKOUT, "sax_wasm_spark")):
        print("perfbench: the program (sax_wasm_spark/) is not in this checkout", file=sys.stderr)
        return 2

    sys.path[:0] = [CHECKOUT, HERE]
    run_root = os.path.join(TMP_BASE, f"run-{os.getpid()}")
    os.makedirs(run_root)
    # sessions, their JVMs and Python workers inherit these
    os.environ["TMPDIR"] = run_root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join([CHECKOUT, HERE])
    # a SIGTERM ends the run through the cleanup below, like an error does
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    adopt_orphans()
    try:
        detail, result = run(args, run_root)
    finally:
        stop_descendants(STOP_GRACE_S)
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(TMP_BASE)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
