"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of a checkout. The workloads are described in
``perfbench/README.md``. This process does the run hygiene and starts
``driver.py`` in its own process group, which does the measuring:

- right before the measured driver starts, it refuses to start while the
  1-minute load average is above the core count and threads are runnable
  now, or while the hypervisor steals more than ``STEAL_LIMIT`` of a busy
  machine's CPU time; it waits (bounded) for that to pass, and then goes
  ahead marked ``gave_up``;
- it removes state dirs left behind by killed runs;
- it samples the resident memory of the driver's whole process tree
  (Python driver, JVM, Python workers) and reports the peak;
- it kills the process group once the driver has printed its result
  (the JVM's own shutdown takes seconds that measure nothing), or when
  the run overstays its time limit, and removes the run's scratch dir.

The line before the last one of standard output holds the run hygiene
(load1 at start and end, the wait, ``gave_up``, the CPU share stolen by
the hypervisor); the last line is the run's JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import BENCH_DIR, ROOT, WORK, log, work_dir  # noqa: E402

# crawl_polite is a manual workload: see crawl.py
WORKLOADS = ("crawl_steady", "operator_queries", "crawl_polite")
# load1 is a 1-minute average: it falls by about a sixth every 10 s
LOAD_WAIT_S = 45
# Share of CPU time the hypervisor may take from a busy machine before a
# run counts as contended: 0.2-1% is usual here, bursts reach 13-17%.
STEAL_LIMIT = 0.05
TIME_LIMIT_S = 175
# a cold cache builds the crawl snapshot and the golden digests
COLD_TIME_LIMIT_S = 880


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: a page shared by n processes counts
    1/n in each, so forked Python workers do not count their shared pages
    again."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree, sampled every 0.2 s."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            self.peak = max(self.peak, _rss_bytes(_descendants(self.pid)))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


def runnable_now(samples: int = 10) -> float:
    """Mean count of runnable threads over about a second, less this
    process: the machine's load now, which load1 shows a minute late."""
    total = 0
    for _ in range(samples):
        with open("/proc/stat") as f:
            total += next(int(ln.split()[1]) for ln in f
                          if ln.startswith("procs_running"))
        time.sleep(1.0 / samples)
    return total / samples - 1


def steal_under_load(cores: int, seconds: float = 1.0) -> float:
    """Share of CPU time stolen by the hypervisor while ``cores`` forked
    processes spin for ``seconds``. An idle machine shows no steal, so
    this is the one view this machine has of other tenants' load."""
    cpu0 = _cpu_times()
    end = time.monotonic() + seconds
    pids = []
    for _ in range(cores):
        pid = os.fork()
        if pid == 0:
            while time.monotonic() < end:
                pass
            os._exit(0)
        pids.append(pid)
    for pid in pids:
        os.waitpid(pid, 0)
    dcpu = [b - a for a, b in zip(cpu0, _cpu_times())]
    return dcpu[7] / max(sum(dcpu), 1)


def wait_for_quiet(cores: int) -> dict:
    """Refuse to start while the machine is busy; retry for a bounded
    time, then go ahead marked ``gave_up``. Busy means load1 above
    ``cores`` while threads are runnable now (load1 lags about a minute,
    so right after a benchmark run it still counts that run), or more
    than ``STEAL_LIMIT`` of CPU time stolen by the hypervisor."""
    load0 = os.getloadavg()[0]
    t0 = time.monotonic()
    while True:
        load = os.getloadavg()[0]
        busy = runnable_now() if load > cores else 0.0
        steal = steal_under_load(cores)
        quiet = (load <= cores or busy < 1.0) and steal <= STEAL_LIMIT
        if quiet or time.monotonic() - t0 >= LOAD_WAIT_S:
            break
        time.sleep(4.0)
    waited = time.monotonic() - t0
    if not quiet or waited >= 5.0:
        log(f"load1 {load0:.2f}, {busy:.1f} threads runnable, {steal:.1%} "
            f"stolen: waited {waited:.0f} s" + ("" if quiet else ", gave_up"))
    return {"load1_first": load0, "load1_start": load,
            "runnable_start": busy, "steal_start": steal,
            "waited_s": waited, "gave_up": not quiet}


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def prune_stale_state() -> None:
    """Remove per-run dirs whose process no longer exists."""
    state = os.path.join(WORK, "state")
    if not os.path.isdir(state):
        return
    for name in os.listdir(state):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(state, name), ignore_errors=True)


def _cached(workload: str, seed: int, params: dict) -> bool:
    """Whether this run's inputs are already in the cache."""
    if workload.startswith("crawl_"):
        import crawl

        p = crawl.params_of(workload, params)
        key, marker = crawl.cache_key(workload, seed, p), "manifest.json"
    else:
        import queries

        key = queries.cache_key(seed, queries.scale(params))
        marker = "oracles.json"
    return os.path.exists(os.path.join(WORK, "cache", workload, key, marker))


def _is_result(line: str) -> bool:
    return line.startswith("{") and '"metrics"' in line


def _drive(cmd: list[str], env: dict, limit: float) -> tuple[int, str, int]:
    """Run the driver in its own process group; return its exit code (0
    once it has printed a result), its standard output and the peak
    memory of its process tree. Every process of the group is killed and
    waited for."""
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             start_new_session=True, text=True)
    sampler = RssSampler(child.pid)
    sampler.start()
    lines: list[str] = []
    done = threading.Event()

    def read() -> None:
        for line in child.stdout:
            lines.append(line)
            if _is_result(line):
                done.set()
        done.set()

    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    try:
        if not done.wait(limit):
            log(f"run exceeded {limit:.0f} s: killed")
    finally:
        sampler.stop()
        _kill_group(child)
        reader.join(timeout=10)
    code = 0 if any(_is_result(ln) for ln in lines) else child.returncode
    return code, "".join(lines), sampler.peak


def _become_subreaper() -> None:
    """Have the driver's orphaned descendants (the JVM, once the driver
    is killed) reparented to this process, so that it can reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _kill_group(child: subprocess.Popen) -> None:
    """Kill the driver's process tree (its process group, and the Python
    workers that start groups of their own), and reap the driver and its
    orphans (this process is their subreaper) until none is left."""
    tree = _descendants(child.pid)
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    for pid in tree:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    child.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        _reap()
        if not any(os.path.exists(f"/proc/{pid}") for pid in tree):
            break
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--params", default="{}",
                    help="JSON overrides of workload parameters "
                         "(self-tests run tiny corpora with this)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "x227f_spark")):
        log(f"no x227f_spark package under {ROOT}: run from the root of a "
            f"checkout of the repository")
        return 2

    t0 = time.perf_counter()
    cores = os.cpu_count() or 1
    _become_subreaper()
    prune_stale_state()
    env = dict(os.environ)
    env.update({
        # Spark's Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "SPARK_GRAFT_CPUS": str(cores),
        # scratch of this run: Spark's local dir, Python's temp files
        "TMPDIR": work_dir("state", f"tmp-{os.getpid()}"),
        "PYTHONHASHSEED": "0",
    })
    env.pop("X227F_PLAN_GUARD", None)
    env.pop("X227F_PREWARM", None)
    cmd = [sys.executable, os.path.join(BENCH_DIR, "driver.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--params", args.params]
    limit = TIME_LIMIT_S
    if not _cached(args.workload, args.seed, json.loads(args.params)):
        # build the inputs in a process of their own, so that every
        # measured run starts from a cold JVM
        limit = COLD_TIME_LIMIT_S
        # the session prewarm only pays off in a measured run
        code, _, _ = _drive(cmd + ["--prepare"],
                            dict(env, X227F_PREWARM="0"), limit)
        if code != 0:
            log(f"building the inputs failed (exit {code}); no result")
            shutil.rmtree(env["TMPDIR"], ignore_errors=True)
            return 1
    hygiene = wait_for_quiet(cores)
    cpu0 = _cpu_times()
    code, out, peak = _drive(cmd, env, limit - (time.perf_counter() - t0))
    shutil.rmtree(env["TMPDIR"], ignore_errors=True)
    # steal: share of the machine's CPU time the hypervisor gave to others
    dcpu = [b - a for a, b in zip(cpu0, _cpu_times())]
    hygiene["cpu_steal_share"] = dcpu[7] / max(sum(dcpu), 1)
    hygiene["load1_end"] = os.getloadavg()[0]
    hygiene["wall_s"] = time.perf_counter() - t0
    log("run hygiene: " + json.dumps(hygiene))

    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if code != 0 or not lines:
        log(f"driver failed (exit {code}); no result")
        return 1
    res = json.loads(lines[-1])
    if not args.trace:
        res["metrics"]["peak_rss_mb"] = {"value": peak / 2**20, "unit": "MB"}
    with open(os.path.join(work_dir("runs"),
                           f"{args.workload}-seed{args.seed}-"
                           f"trace{args.trace}-{int(time.time())}.json"),
              "w") as f:
        json.dump({"result": res, "hygiene": hygiene}, f)
    print(json.dumps({"hygiene": hygiene}))
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
