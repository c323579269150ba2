"""Per-call bookkeeping shared by the workloads: one Spark job group per
call, wall-clock latency, failures, and (traced runs) job/task counts."""

from __future__ import annotations

import sys
import time
import traceback

from perfbench.trace import Tracer, drain_listener_bus, job_counts


class CallFailed(RuntimeError):
    pass


class Harness:
    def __init__(self, trace: bool, t0: float, work: str,
                 session_kwargs: dict):
        self.trace = trace
        self.session_kwargs = session_kwargs  # for session.get_spark
        self.tracer = Tracer(trace)
        self.t0 = t0            # perf_counter() at process start
        self.work = work        # scratch root inside the checkout
        self.spark = None
        self.phase = "setup"    # setup | warmup | window | done
        self.calls: list[dict] = []

    def call(self, op: str, fn, *args, **kwargs):
        """Run one engine call under its own job group and record it.
        Raises CallFailed (after recording) when the call raises."""
        cid = len(self.calls)
        group = f"pb-{cid}"
        self.tracer.call = cid
        sc = self.spark.sparkContext
        sc.setJobGroup(group, op)
        err = None
        t = time.perf_counter()
        try:
            with self.tracer.span(f"call.{op}"):
                out = fn(*args, **kwargs)
        except Exception as e:  # a failed call is counted, then reported
            err = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        ms = 1000.0 * (time.perf_counter() - t)
        self.calls.append({"id": cid, "op": op, "phase": self.phase,
                           "ms": ms, "ok": err is None, "group": group})
        self.tracer.call = None
        if err is not None:
            raise CallFailed(f"{op} call {cid} failed: {err}")
        return out

    def count_jobs(self) -> None:
        """Add jobs, tasks and failed tasks to every window call. Run
        once after the window: Spark's status store is filled by an
        asynchronous listener bus, so counts read right after a call
        can miss its last jobs and tasks."""
        sc = self.spark.sparkContext
        drain_listener_bus(sc)
        for c in self.window():
            c.update(job_counts(sc, c["group"]))

    def log(self, msg: str) -> None:
        """Progress line on stderr, stamped with seconds since start."""
        print(f"[perfbench {time.perf_counter() - self.t0:7.2f}s] {msg}",
              file=sys.stderr, flush=True)

    def window(self, op: str | None = None) -> list[dict]:
        return [c for c in self.calls if c["phase"] == "window"
                and (op is None or c["op"] == op)]
