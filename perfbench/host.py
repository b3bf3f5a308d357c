"""Session host: one SparkSession in its own process, driven over a socket.

Spark fixes the core count when a session starts, so 1-core and
4-core passes that alternate within one run need two sessions, and
PySpark allows one per process. The orchestrator (run.py) starts two
hosts and sends each the same small set of commands.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import sys
import time
import traceback

KB = 1024


def _proc_status(pid: int) -> dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
        for line in f:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        return int(_proc_status(pid)["VmHWM"].split()[0]) / KB
    except (OSError, KeyError, ValueError):
        return 0.0  # the process ended between the scan and the read


def _alive(pid: int) -> bool:
    try:
        return _proc_status(pid).get("State", "Z").split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> dict:
    """Read peak memory, stop the session, and wait until its JVM and
    every Python worker process have ended.

    Peak memory is VmHWM from /proc: the JVM's, and the largest over its
    Python workers (every descendant process of the JVM)."""
    from pyspark import SparkContext  # noqa: PLC0415

    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    workers = descendants(jvm)
    res = {
        "jvm_peak_rss_mb": _hwm_mb(jvm),
        "worker_peak_rss_mb": max((_hwm_mb(p) for p in workers), default=0.0),
    }
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in filter(_alive, workers):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass  # ended after the check
    return res


def session_conf(root: str, name: str, event_log: bool) -> dict:
    conf = {
        "spark.driver.memory": "1g",
        # a pre-touched fixed heap keeps the JVM's VmHWM from following
        # G1's heap sizing, so it moves with off-heap memory instead
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={root} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch"
        ),
        "spark.local.dir": os.path.join(root, "local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
    }
    if event_log:
        log_dir = os.path.join(root, f"events-{name}")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    return conf


def serve(conn, cfg: dict) -> None:
    """Host main loop. ``cfg``: name, cores, traced, workload, seed, root."""
    try:
        _serve(conn, cfg)
    except Exception:  # report to the orchestrator, which fails the run
        conn.send({"error": f"host {cfg['name']}: {traceback.format_exc()}"})


def _serve(conn, cfg: dict) -> None:
    from sax_wasm_spark.session import get_spark  # noqa: PLC0415
    from spans import SpanRecorder  # noqa: PLC0415
    from workloads import WORKLOADS  # noqa: PLC0415

    root = os.path.join(cfg["root"], cfg["name"])
    os.makedirs(root)
    traced = cfg["traced"]
    spark = get_spark(
        app_name=f"perfbench-{cfg['name']}",
        cores=cfg["cores"],
        extra_conf=session_conf(root, cfg["name"], traced),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spans = SpanRecorder(enabled=traced)
    if traced:
        from sax_wasm_spark.plans import lineage  # noqa: PLC0415

        for fn in (
            "with_shard",
            "completed_shards",
            "extract_main_content",
            "write_extracted_partitioned",
            "read_extracted",
        ):
            spans.wrap(lineage, fn, f"lineage.{fn}")
    wl = WORKLOADS[cfg["workload"]](spark, cfg["root"], cfg["seed"], spans)
    conn.send({"ready": True})

    passes: list[tuple[float, float]] = []
    last_out = None
    while True:
        msg = conn.recv()
        op = msg["op"]
        if op == "warm":
            wl.load()
            wl.run_pass(os.path.join(root, "warm"))
            shutil.rmtree(os.path.join(root, "warm"))
            conn.send({})
        elif op == "pass":
            out = os.path.join(root, f"pass{len(passes)}")
            spans.pass_id = f"{cfg['name']}-{len(passes)}"
            w0 = time.time()
            with spans.span("pass"):
                t0 = time.perf_counter()
                wl.run_pass(out)
                seconds = time.perf_counter() - t0
            passes.append((w0, time.time()))
            spans.pass_id = None
            res = wl.check(out)
            if last_out:
                shutil.rmtree(last_out)
            last_out = out
            conn.send({"seconds": seconds, **res})
        elif op == "refresh":
            out = os.path.join(root, "refresh")
            conn.send({"reused_frac": wl.refresh(last_out, out)})
            shutil.rmtree(out)
        elif op == "finish":
            res = stop_session(spark)
            if traced:
                from eventlog import read_event_log  # noqa: PLC0415

                res["events"] = read_event_log(os.path.join(root, f"events-{cfg['name']}"), passes)
                res["spans"] = spans.spans
                res["windows"] = passes
            conn.send(res)
            return
        else:
            raise ValueError(f"unknown op {op!r}")


if __name__ == "__main__":
    # host.py FD CFG_JSON: serve over the socket FD inherited from run.py
    from multiprocessing.connection import Connection

    serve(Connection(int(sys.argv[1])), json.loads(sys.argv[2]))
