"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Before timing it makes the workload's
inputs (the committed base tables, or their 26x replica built once by
``scripts/make_sf1.py``) and the DuckDB reference digests (a separate,
memory-capped process; cached per checkout, keyed by code and data). It then
removes the workload's published artifacts, starts the measured client
(client.py) as a fresh process, samples the memory of that process tree
from outside, and prints one JSON line: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer ones. Details of the run (per-query
times, load average, spans) go to perfbench/.work/.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from workloads import BASE, SCALED, SCALED_COPIES, WORKLOADS  # noqa: E402

#: files the benchmark needs from the program under test
PROGRAM_FILES = ("nocouncil_etl_spark/registry.py", "scripts/oracle_check.py", "scripts/make_sf1.py")
CLIENT_TIMEOUT_S = 160
ORACLE_TIMEOUT_S = 300
#: address-space cap of the oracle process
ORACLE_AS_BYTES = 6 << 30
RSS_SAMPLE_S = 0.2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def driver_memory() -> str:
    """1 GiB, or a quarter of physical memory if that is less: the workloads'
    data is small, and a heap the JVM fills keeps its resident size steady
    (peak RSS spread 15% at 2 GiB, 2% at 1 GiB, five seeds)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(256, min(1024, phys // 4 >> 20))}m"


def data_dir(name: str) -> str:
    if name == BASE:
        return os.path.join(HERE, "data", BASE)
    assert name == SCALED, name
    out = os.path.join(WORK, "data", SCALED)
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        code = (
            "import sys; sys.path.insert(0, sys.argv[1]); import make_sf1; "
            "make_sf1.SRC = sys.argv[2]; sys.argv = ['make_sf1', sys.argv[3], sys.argv[4]]; "
            "make_sf1.main()"
        )
        subprocess.run(
            [sys.executable, "-c", code, os.path.join(ROOT, "scripts"), data_dir(BASE), tmp, str(SCALED_COPIES)],
            check=True,
            stdout=subprocess.DEVNULL,
            timeout=ORACLE_TIMEOUT_S,
        )
        os.replace(tmp, out)
    return out


def _fingerprint(paths: list[str], names: list[str]) -> str:
    h = hashlib.sha256("\n".join(names).encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _cap_memory() -> None:
    resource.setrlimit(resource.RLIMIT_AS, (ORACLE_AS_BYTES, ORACLE_AS_BYTES))


def oracle_digests(wl, dirs: dict[str, str]) -> dict[str, dict]:
    """The workload's DuckDB digests, keyed ``query@dataset``; computed once
    per code + data + query list, then read from the cache."""
    code = glob.glob(os.path.join(ROOT, "nocouncil_etl_spark", "**", "*.py"), recursive=True)
    code += [os.path.join(ROOT, "scripts", "oracle_check.py"), os.path.join(HERE, "oracles.py")]
    digests = {}
    for ds, sf_dir in dirs.items():
        names = [q for q, d in wl.queries if d == ds]
        key = _fingerprint(code + glob.glob(os.path.join(sf_dir, "*.parquet")), names)
        out = os.path.join(WORK, "oracles", f"{ds}-{key}.json")
        if not os.path.exists(out):
            os.makedirs(os.path.dirname(out), exist_ok=True)
            t = time.perf_counter()
            subprocess.run(
                [sys.executable, os.path.join(HERE, "oracles.py"), ROOT, sf_dir, out, *names],
                check=True,
                preexec_fn=_cap_memory,
                timeout=ORACLE_TIMEOUT_S,
                env=dict(os.environ, PYTHONPATH=ROOT),
            )
            log(f"oracle digests for {len(names)} queries on {ds} in {time.perf_counter() - t:.1f}s")
        with open(out) as fh:
            digests.update({f"{q}@{ds}": v for q, v in json.load(fh).items()})
    return digests


def clear_artifacts(sf_dir: str) -> None:
    """Remove the artifacts published for this data set, so set-up always
    includes the publish."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    for d in glob.glob(os.path.join(ROOT, ".scratch", f"*_{tag}")) + glob.glob(
        os.path.join(ROOT, ".scratch", f"*_{tag}_*")
    ):
        shutil.rmtree(d, ignore_errors=True)


#: kernel process flag: forked, has not called exec yet
PF_FORKNOEXEC = 0x40


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, kernel flags) of every process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(d)] = (int(fields[1]), int(fields[6]))
    return table


def _statm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return fh.read()
    except OSError:
        return None


def tree_rss_bytes(pid: int) -> tuple[int, set[int]]:
    procs = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(p)
    seen, todo, total = set(), [pid], 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        todo += kids.get(p, [])
        mem = _statm(p)
        if mem is None:
            continue
        ppid, flags = procs.get(p, (0, 0))
        # a child spawned with vfork/posix_spawn shares its parent's memory
        # until it calls exec, and reports the parent's figures: count them
        # once (the JVM spawns `chmod` this way for each local file it writes)
        if flags & PF_FORKNOEXEC and ppid in seen and mem == _statm(ppid):
            continue
        total += int(mem.split()[1]) * page
    return total, seen


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run_client(wl, args, dirs: dict[str, str], oracles: dict, stem: str) -> tuple[dict, float, float]:
    """Start the client, sample its process tree's memory until it exits.
    Returns (record, spawn time, peak RSS in bytes)."""
    for sub in ("runs", "logs", "tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    out = os.path.join(WORK, "runs", f"{stem}.client.json")
    if os.path.exists(out):
        os.remove(out)
    spec = os.path.join(WORK, "runs", f"{stem}.spec.json")
    with open(spec, "w") as fh:
        json.dump({"dirs": dirs, "oracles": oracles}, fh)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=driver_memory(),
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        _JAVA_OPTIONS=f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "client.py"),
        "--root", ROOT, "--workload", wl.name, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--spec", spec, "--out", out,
    ]
    if args.trace:
        cmd += ["--spans", os.path.join(WORK, "runs", f"{stem}.spans.json")]
    peak = [0]
    seen: set[int] = set()
    with open(os.path.join(WORK, "logs", f"{stem}.log"), "w") as logf:
        spawned = time.monotonic()
        proc = subprocess.Popen(
            cmd, env=env, cwd=os.path.join(WORK, "cwd"), stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )

        def sample() -> None:
            while proc.poll() is None:
                rss, pids = tree_rss_bytes(proc.pid)
                seen.update(pids)
                peak[0] = max(peak[0], rss)
                time.sleep(RSS_SAMPLE_S)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            rc = proc.wait(timeout=CLIENT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the JVM and Python workers share the client's process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            sampler.join()
            deadline = time.monotonic() + 15
            while any(_alive(p) for p in seen) and time.monotonic() < deadline:
                time.sleep(0.1)
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"client exited with {rc}; see perfbench/.work/logs/{stem}.log")
    with open(out) as fh:
        return json.load(fh), spawned, peak[0]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # terminated from outside: unwind, so run_client's cleanup kills the
    # client's process group instead of leaving the JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        log(f"program not found next to the benchmark (missing {', '.join(missing)})")
        return 2

    wl = WORKLOADS[args.workload]
    loadavg = os.getloadavg()[0]
    dirs = {ds: data_dir(ds) for ds in wl.datasets}
    oracles = oracle_digests(wl, dirs)
    for d in dirs.values():
        clear_artifacts(d)
    stem = f"{wl.name}-s{args.seed}-t{args.trace}"
    record, spawned, peak_rss = run_client(wl, args, dirs, oracles, stem)

    passes = record["passes"]
    if args.trace:
        metrics = dict(record["layer_metrics"])
        attempted = record["attempted"]
        metrics["run.error_rate"] = {"value": record["failed"] / attempted, "unit": "ratio"}
        metrics["host.loadavg_1m"] = {"value": loadavg, "unit": "load"}
    else:
        metrics = {
            "setup_s": {"value": record["setup_done"] - spawned, "unit": "s"},
            "pass_s": {"value": statistics.median(p["pass_s"] for p in passes), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        }
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }
    with open(os.path.join(WORK, "runs", f"{stem}.json"), "w") as fh:
        json.dump({"loadavg_1m": loadavg, "result": result, "client": record}, fh, indent=1)
    for f in record["failures"]:
        log(f"FAILED {f}")
    log(
        f"{wl.name} seed={args.seed} trace={args.trace} load={loadavg:.2f} "
        f"passes={len(passes)} executions={record['attempted']} failed={record['failed']}"
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
