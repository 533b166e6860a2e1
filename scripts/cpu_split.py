#!/usr/bin/env python
"""CPU of each pass of a perfbench workload, split by process class.

    python scripts/cpu_split.py --workload image_tiling_job --seed 7 --passes 3

Run from the repository root.  Builds the workload's inputs the way
``perfbench/run.py`` does, then runs its warm-up passes and ``--passes``
more, checking each against the NumPy reference.  Around every pass it
reads ``/proc`` and prints the CPU seconds (user + system) of:

* ``driver``: this Python process;
* ``task``: the JVM's ``Executor task launch worker`` threads;
* ``jit``: the JVM's compiler threads, those that ended during the pass
  included;
* ``gc``: the JVM's garbage-collector threads;
* ``jvm_other``: the rest of the JVM, other threads that ended during
  the pass included;
* ``python``: the Python workers below the JVM (the daemon and its
  forked workers, with the workers it has reaped).

The JVM starts and stops compiler threads inside a pass, so its threads
are also read every ``POLL_S`` seconds during the pass, and a thread
that ended counts in its class up to its last reading (the polling's own
CPU lands in ``driver``).  A worker that was alive at the start of a
pass and was reaped during it is counted whole in its parent's
``cutime``, so ``python`` may run high by the part of its life before
the pass.  The last line is JSON: the median of each class over the
timed passes, and the JVM's ``-XX:`` arguments (``jvm_xx``), which say
what compiler configuration the split measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CLASSES = ("driver", "task", "jit", "gc", "jvm_other", "python")
# thread names as /proc shows them: cut to 15 characters
THREAD_CLASSES = (
    ("task", ("Executor task l",)),
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread", "G1 ")),
)
TICK = os.sysconf("SC_CLK_TCK")
POLL_S = 0.02


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(name, fields from the state on) of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _ticks(fields: list[str], children: bool) -> int:
    """utime + stime, and the reaped children's cutime + cstime."""
    return sum(int(v) for v in fields[11:15 if children else 13])


def _thread_class(name: str) -> str | None:
    for cls, prefixes in THREAD_CLASSES:
        if name.startswith(prefixes):
            return cls
    return None


def _threads(jvm: int) -> dict[int, tuple[str | None, int]]:
    """{tid: (class, ticks)} of the JVM's live threads."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        return out
    for tid in tids:
        st = _stat(f"/proc/{jvm}/task/{tid}/stat")
        if st:
            out[int(tid)] = (_thread_class(st[0]), _ticks(st[1], False))
    return out


class ThreadPoller(threading.Thread):
    """Reads the JVMs' threads every ``POLL_S`` seconds until stopped and
    keeps each thread's last reading in ``threads``."""

    def __init__(self, jvms: list[int]):
        super().__init__(daemon=True)
        self.jvms, self.threads, self.done = jvms, {}, threading.Event()

    def run(self) -> None:
        while not self.done.wait(POLL_S):
            for jvm in self.jvms:
                self.threads.update(_threads(jvm))

    def stop(self) -> dict:
        self.done.set()
        self.join()
        return self.threads


def sample() -> dict:
    """Ticks of the driver, of every JVM thread ({tid: (class, ticks)}),
    of the whole JVM and of the Python workers below it."""
    me = os.getpid()
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(f"/proc/{entry}/stat")
            if st:
                procs[int(entry)] = st
    jvms = [p for p, (name, f) in procs.items() if int(f[1]) == me and name == "java"]
    out = {"driver": _ticks(procs[me][1], children=False), "jvm": 0, "threads": {},
           "python": 0, "jvms": jvms}
    for jvm in jvms:
        out["jvm"] += _ticks(procs[jvm][1], children=False)
        out["threads"].update(_threads(jvm))
        frontier = [jvm]
        while frontier:
            parent = frontier.pop()
            kids = [p for p, (_, f) in procs.items() if int(f[1]) == parent]
            out["python"] += sum(_ticks(procs[k][1], children=True) for k in kids)
            frontier.extend(kids)
    return out


def split(before: dict, polled: dict, after: dict) -> dict[str, float]:
    """CPU seconds per class between two samples, with the threads
    ``polled`` in between that had ended by the second."""
    cpu = dict.fromkeys(CLASSES, 0)
    cpu["driver"] = after["driver"] - before["driver"]
    cpu["python"] = after["python"] - before["python"]
    for tid, (cls, ticks) in {**polled, **after["threads"]}.items():
        if cls is not None:
            cpu[cls] += ticks - before["threads"].get(tid, (cls, 0))[1]
    cpu["jvm_other"] = after["jvm"] - before["jvm"] - cpu["task"] - cpu["jit"] - cpu["gc"]
    return {cls: ticks / TICK for cls, ticks in cpu.items()}


def jvm_xx(spark) -> list[str]:
    """The ``-XX:`` input arguments of the session's driver JVM."""
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return [a for a in runtime.getInputArguments() if a.startswith("-XX:")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--passes", type=int, default=3, help="timed passes after the warm-up")
    args = ap.parse_args()

    from perfbench import workloads
    from perfbench.run import WORK, hygiene_env, stop_spark
    from perfbench.tracing import RssSampler, Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"cpu_split-{args.workload}-s{args.seed}-p{os.getpid()}")
    hygiene_env(run_dir)
    sampler = RssSampler()  # remembers the pids stop_spark must see end
    sampler.start()

    from s2geometry_spark.sources.session import get_spark

    spark = None
    try:
        spark = get_spark("cpu_split", cpus=nproc, shuffle_partitions=2 * nproc)
        spark.sparkContext.setLogLevel("ERROR")
        wl = workloads.WORKLOADS[args.workload](
            spark=spark, tracer=Tracer(spark.sparkContext, enabled=False), work=run_dir,
            seed=args.seed, nproc=nproc,
        )
        wl.build_inputs()
        wl.prepare()
        wl.reference()
        warm = getattr(wl, "warmup_passes", 1)
        print(f"JVM threads polled every {POLL_S * 1000:.0f} ms during each pass")
        print(f"{'pass':>6} {'wall':>6} {'total':>6} " + " ".join(f"{c:>9}" for c in CLASSES))
        timed, wrong = [], 0
        for i in range(warm + args.passes):
            before = sample()
            poller = ThreadPoller(before["jvms"])
            poller.start()
            t = time.perf_counter()
            out = wl.run_pass()
            wall, polled = time.perf_counter() - t, poller.stop()
            cpu = split(before, polled, sample())
            wrong += wl.check(out)
            if i >= warm:
                timed.append(cpu)
            label = f"{i + 1}{'w' if i < warm else ''}"
            print(f"{label:>6} {wall:6.2f} {sum(cpu.values()):6.2f} "
                  + " ".join(f"{cpu[c]:9.2f}" for c in CLASSES), flush=True)
        medians = {c: round(statistics.median(p[c] for p in timed), 3) for c in CLASSES}
        print(json.dumps({"workload": args.workload, "seed": args.seed, "poll_ms": POLL_S * 1000,
                          "correct": wrong == 0, "cpu_s": medians, "jvm_xx": jvm_xx(spark)}))
        return 0 if wrong == 0 else 1
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark, sampler.seen)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
