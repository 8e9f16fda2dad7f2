#!/usr/bin/env python3
"""Extraction benchmark: launches the shipped job,
``spark-submit --py-files <zip> jobs/extract.py``, on a freshly generated
corpus and checks what it commits.

    python3 perfbench/run.py --workload web-small --seed 1 --seconds 30 --trace 0

Workloads (generated from ``--seed`` by `corpus.py`):
  web-small    small template HTML docs, 1 in 5 with a media span, cold table
  mixed-heavy  every routed format, heavy HTML tail and big raw PDFs, cold table
  resume-tail  web-small-shaped, 90 % committed in earlier snapshots; the
               job processes the rest (the table is restored before each launch)

``--trace 0`` launches the job once on a fresh table and reports the
end-to-end metrics of that launch: `setup_s` (launch to the job's own
clock), `docs_per_s` and `mb_per_s` (over the job's own clock); it also
prints `wall_s`, `peak_rss_mb` and `failed_frac`. One launch takes about 30-40 s on a
4-core host, so a run is one launch whatever ``--seconds`` says; the
value is recorded with the result. ``--trace 1`` makes one untraced and
one traced launch: the traced one runs `traced_job.py` under the same
spark-submit line plus the event-log ``--conf``s, and reports the
per-layer table (see `layers.py`).

Every launch is checked: one committed row per doc to process, status
``success``, and for a seeded sample of docs the span sequence equals the
in-process pure-Python path (`inproc.py`). A doc that fails any of these is
counted in ``failed``. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
import zipfile
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("web-small", "mixed-heavy", "resume-tail")
SAMPLE_PER_FORMAT = 64      # docs of each format checked span by span,
SAMPLE_MB_PER_FORMAT = 2.0  # until their payload reaches this many MB
LAUNCH_TIMEOUT_S = 150
RSS_PERIOD_S = 0.2          # sampling /proc costs CPU the job shares


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# host-derived settings

def host_settings() -> dict:
    import pyarrow
    import pyspark

    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as f:
        ram_mb = next(int(ln.split()[1]) // 1024 for ln in f
                      if ln.startswith("MemTotal:"))
    return {"cpus": cpus, "ram_mb": ram_mb,
            # a sixteenth of host RAM, 1 to 4 GiB: the JVM shares the
            # host with the Python workers, and a heap far above what the
            # job needs only makes its resident size vary from run to run
            "driver_mem_mb": max(1024, min(4096, ram_mb // 16)),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark
    path = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")
    if not os.path.exists(path):
        die("spark-submit not found")
    return path


def build_pyfiles(dest: str) -> str:
    """Zip `docling_spark/` from source, as `tools/make_pyfiles.py` does."""
    out = os.path.join(dest, "docling_spark.zip")
    pkg = os.path.join(ROOT, "docling_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirs, files in os.walk(pkg):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, ROOT))
    return out


# ---------------------------------------------------------------------------
# workload set-up (not timed)

class Workload:
    def __init__(self, name: str, seed: int, work: str) -> None:
        import corpus
        from inproc import Reference

        self.name = name
        self.input = os.path.join(work, "input", "corpus.parquet")
        self.table = os.path.join(work, "table")
        self.seed_table = os.path.join(work, "seed_table")
        ref = Reference()
        if name == "resume-tail":
            c, which = corpus.resume_tail(seed)
            committed: Dict[int, list] = {}
            todo = []
            for (doc_id, spans), k in zip(c.rows, which):
                if k < 0:
                    todo.append((doc_id, spans))
                else:
                    committed.setdefault(k, []).append((doc_id, spans))
            corpus.write_committed(self.seed_table, self.table, committed)
        else:
            c = corpus.web_small(seed) if name == "web-small" \
                else corpus.mixed_heavy(seed)
            todo = list(c.rows)
        corpus.write_input(self.input, c.rows)
        self.corpus = c
        self.todo = todo
        self.todo_ids = {d for d, _ in todo}
        self.todo_mb = sum(len(s[1]) for _, spans in todo
                           for s in spans) / 1e6
        self.base = dict(c.base(), docs_to_process=len(todo),
                         payload_mb_to_process=round(self.todo_mb, 3))
        # seeded sample for the span-sequence check
        rng = random.Random(seed)
        by_fmt: Dict[str, List[tuple]] = {}
        for doc_id, spans in todo:
            by_fmt.setdefault(c.fmt[doc_id], []).append((doc_id, spans))
        self.expected: Dict[str, Optional[list]] = {}
        for fmt in sorted(by_fmt):
            docs = by_fmt[fmt]
            mb = 0.0
            for doc_id, spans in rng.sample(docs, min(SAMPLE_PER_FORMAT,
                                                      len(docs))):
                self.expected[doc_id] = ref.spans(
                    spans, c.raw_lines.get(doc_id))
                mb += sum(len(s[1]) for s in spans) / 1e6
                if mb >= SAMPLE_MB_PER_FORMAT:
                    break

    def reset_table(self) -> List[str]:
        """Fresh table for one launch; returns the snapshot ids it holds."""
        shutil.rmtree(self.table, ignore_errors=True)
        if os.path.isdir(self.seed_table):
            shutil.copytree(self.seed_table, self.table)
            with open(os.path.join(self.table, "_snapshots.json"),
                      encoding="utf-8") as f:
                return [s["id"] for s in json.load(f)["snapshots"]]
        return []


def check_output(w: Workload, seed_snaps: List[str]) -> int:
    """Docs to process that are missing, duplicated, not ``success`` or
    differ from the reference spans; plus committed docs that were not
    to be processed."""
    import pyarrow.parquet as pq

    with open(os.path.join(w.table, "_snapshots.json"),
              encoding="utf-8") as f:
        snaps = json.load(f)["snapshots"]
    counts: Dict[str, int] = {}
    bad = set()
    for s in snaps:
        new = s["id"] not in seed_snaps
        t = pq.read_table(s["data"], columns=["doc_id", "status", "spans"]
                          if new else ["doc_id"])
        ids = t.column("doc_id").to_pylist()
        for doc_id in ids:
            counts[doc_id] = counts.get(doc_id, 0) + 1
        if not new:
            continue
        for doc_id, status in zip(ids, t.column("status").to_pylist()):
            if doc_id not in w.todo_ids or status != "success":
                bad.add(doc_id)
        sample = [i for i, d in enumerate(ids) if d in w.expected]
        spans = t.column("spans").take(sample).to_pylist()
        for i, got in zip(sample, spans):
            got = [(x["kind"], x["text"], x["media_ref"], x["offset"])
                   for x in got]
            if got != w.expected[ids[i]]:
                bad.add(ids[i])
    bad.update(d for d in w.todo_ids if counts.get(d, 0) != 1)
    bad.update(d for d, n in counts.items() if d not in w.todo_ids
               and n != 1)
    return len(bad)


# ---------------------------------------------------------------------------
# one launch of the job

def _cpu_ticks() -> List[int]:
    """Aggregate CPU ticks of the host: (all, stolen by the hypervisor)."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return [sum(ticks[:8]), ticks[7]]


def _session_sample(sid: int, cpu: Dict[int, int]) -> float:
    """Summed RSS (MB) of the processes in session ``sid``; records each
    one's CPU ticks (user + system) in ``cpu``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii",
                      errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != sid:      # field 6: session id
                continue
            cpu[int(pid)] = int(fields[11]) + int(fields[12])
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / 1e6


class Launcher:
    def __init__(self, w: Workload, host: dict, work: str) -> None:
        self.w, self.host, self.work = w, host, work
        self.submit = spark_submit()
        self.pyfiles = build_pyfiles(work)
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        # JVM temp files (and no perf-data file) stay inside the checkout,
        # for the launcher JVM and the driver JVM alike
        self.env = dict(os.environ, TMPDIR=self.tmp,
                        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={self.tmp} "
                                          "-XX:-UsePerfData",
                        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                        PYSPARK_PYTHON=sys.executable,
                        PYSPARK_DRIVER_PYTHON=sys.executable)
        self.env.pop("PYTHONPATH", None)
        self.n = 0

    def run(self, trace_dir: Optional[str] = None) -> dict:
        w, cpus = self.w, self.host["cpus"]
        seed_snaps = w.reset_table()
        self.n += 1
        job_args = ["--input", w.input, "--output", w.table,
                    "--partitions", str(cpus)]
        cmd = [self.submit, "--master", f"local[{cpus}]",
               "--driver-memory", f"{self.host['driver_mem_mb']}m",
               "--conf", "spark.ui.enabled=false",
               "--py-files", self.pyfiles]
        if trace_dir:
            events = os.path.join(trace_dir, "events")
            os.makedirs(events)
            cmd += ["--conf", "spark.eventLog.enabled=true",
                    "--conf", "spark.eventLog.compress=false",
                    "--conf", "spark.eventLog.rolling.enabled=false",
                    "--conf", f"spark.eventLog.dir=file://{events}",
                    os.path.join(HERE, "traced_job.py"),
                    os.path.join(trace_dir, "spans.json")] + job_args
        else:
            cmd += [os.path.join(ROOT, "jobs", "extract.py")] + job_args
        log_path = os.path.join(self.work, f"launch-{self.n}.log")
        peak = [0.0]
        cpu: Dict[int, int] = {}
        with open(log_path, "w", encoding="utf-8") as log:
            ticks0 = _cpu_ticks()
            t0 = time.time()
            proc = subprocess.Popen(cmd, cwd=self.work, env=self.env,
                                    stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            done = threading.Event()

            def sample() -> None:
                while not done.is_set():
                    peak[0] = max(peak[0], _session_sample(proc.pid, cpu))
                    done.wait(RSS_PERIOD_S)

            sampler = threading.Thread(target=sample, daemon=True)
            sampler.start()
            try:
                out, _ = proc.communicate(timeout=LAUNCH_TIMEOUT_S)
            finally:
                t1 = time.time()
                ticks1 = _cpu_ticks()
                done.set()
                sampler.join()
                _stop_session(proc)
        summary = next((json.loads(ln) for ln in reversed(out.splitlines())
                        if ln.startswith("{")), {})
        if proc.returncode != 0 or summary.get("status") != "committed":
            with open(log_path, encoding="utf-8", errors="replace") as f:
                tail = f.read()[-4000:]
            die(f"job launch failed (exit {proc.returncode}):\n{tail}")
        failed = check_output(w, seed_snaps)
        return {"wall_s": t1 - t0, "job_s": float(summary["wall_sec"]),
                "docs": int(summary["docs"]), "rss_mb": peak[0],
                "cpu_s": sum(cpu.values()) / os.sysconf("SC_CLK_TCK"),
                "failed": failed, "start": t0, "end": t1,
                "steal_frac": (ticks1[1] - ticks0[1])
                / max(1, ticks1[0] - ticks0[0]),
                "snapshots_read": len(seed_snaps)}


def _stop_session(proc: subprocess.Popen) -> None:
    """Stop whatever the launch left running and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline and _session_alive(proc.pid):
        time.sleep(0.05)


def _session_alive(sid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii",
                          errors="replace") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[3]) == sid and fields[0] != "Z":
                    return True
            except (OSError, IndexError, ValueError):
                continue
    return False


# ---------------------------------------------------------------------------
# metrics

def end_to_end(w: Workload, r: dict) -> dict:
    return {
        "setup_s": (r["wall_s"] - r["job_s"], "s"),
        "docs_per_s": (r["docs"] / r["job_s"], "docs/s"),
        "mb_per_s": (w.todo_mb / r["job_s"], "MB/s"),
    }


def report(metrics: Dict[str, tuple], attempted: int, failed: int,
           extra_lines: List[str]) -> None:
    for line in extra_lines:
        print(line)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the job it launched (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("jobs/extract.py", "docling_spark/operators/extract.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: run from a full checkout")
    sys.path.insert(1, ROOT)
    host = host_settings()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        w = Workload(args.workload, args.seed, work)
        lines = ["# host " + json.dumps(host),
                 "# base " + json.dumps(w.base, sort_keys=True)]
        launcher = Launcher(w, host, work)
        if args.trace:
            from layers import traced_run
            metrics, attempted, failed, table = traced_run(w, launcher, work)
            lines += table
        else:
            r = launcher.run()
            metrics = end_to_end(w, r)
            attempted, failed = len(w.todo), r["failed"]
            lines.append(f"# one launch (--seconds {args.seconds:g}); host "
                         "CPU time stolen by the hypervisor "
                         f"{r['steal_frac']:.3f}, job CPU {r['cpu_s']:.2f} s")
            # printed, not reported: the wall is setup_s plus the job's
            # time, which docs_per_s and mb_per_s divide by, so it only
            # adds the start-up noise of one JVM to them; a peak of summed
            # RSS moves with how many Python workers the scheduler happens
            # to keep; and a failure fraction of 0 cannot be a gated ratio
            shown = dict(wall_s=(r["wall_s"], "s"), **metrics,
                         peak_rss_mb=(r["rss_mb"], "MB"),
                         failed_frac=(failed / attempted, "ratio"))
            lines += [f"{k:<14} {v:>12.4f} {u}" for k, (v, u) in shown.items()]
        report(metrics, attempted, failed, lines)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):     # other runs may still use it
            os.rmdir(os.path.dirname(work))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
