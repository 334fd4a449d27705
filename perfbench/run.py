"""chug_spark benchmark.

Run from the root of a checkout::

    python3 perfbench/run.py --workload docread_passthrough --seed 1 --seconds 5 --trace 0

Workloads (see ``BENCHMARK.json`` for why each one is there):

- ``docread_passthrough``: a pre-resolved-media ``generate_docs`` corpus
  through ``write_with_checkpoint`` with 8 serial buckets (``job.py``'s
  default mode).
- ``docread_payload``: the default ``generate_docs`` corpus (every 2nd doc a
  synthetic payload) through ``job.py --no-checkpoint`` at 96 dpi.
- ``curation``: the eleven ``__spark_entry__.queries()`` curation legs over
  seeded documents/embeddings tables.

The last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0`` (``job_s``,
``docs_per_sec``, ``setup_s``, ``peak_rss_mb``), per-layer metrics with
``--trace 1``.  Earlier lines record the Spark settings, each repetition and
the set-up split.  Every file the run writes is under ``.bench_work/`` in the
checkout, which is emptied at the start of each run.  Every process the run
starts (the Spark JVM, its Python workers, the oracle's worker pool and their
orphans) has ended and been reaped before it exits, on every path out.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
REQUIRED = ["chug_spark/__init__.py", "__spark_entry__.py", "tests/oracle.py",
            "tools/check_entry.py"]
PR_SET_CHILD_SUBREAPER = 36


def _children() -> list:
    me = str(os.getpid())
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = fh.read().rsplit(")", 1)[1].split()[1]
        except OSError:
            continue
        if ppid == me:
            out.append(int(name))
    return out


def reap_all(grace_s: float = 30.0) -> None:
    """Wait until every process this run started has ended, and reap it.

    The run is a child subreaper, so an orphaned descendant (a Python worker
    whose JVM has exited, a subshell the Spark launcher left unreaped) becomes
    its child and is reaped here rather than outliving the run.  Processes
    still alive after ``grace_s`` are killed."""
    try:  # multiprocessing's resource tracker only exits when told to
        from multiprocessing import resource_tracker

        stop = getattr(resource_tracker._resource_tracker, "_stop", None)
        if stop is not None:
            stop()
    except Exception:
        pass
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        alive = _children()
        if not alive:
            return
        if time.monotonic() >= deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a chug_spark checkout, missing {missing}", file=sys.stderr)
        return 2

    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become a child subreaper", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        return _run(args)
    finally:
        reap_all()
        shutil.rmtree(WORK, ignore_errors=True)


def _run(args) -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # temp files of Python, Spark and the JVM that launches Spark stay in the
    # checkout; the Python workers import the program from it
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    sys.path.insert(0, ROOT)

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), WORK,
                           log=lambda obj: print(json.dumps(obj), flush=True))
    reap_all()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
