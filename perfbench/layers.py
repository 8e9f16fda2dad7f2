"""The traced run and its per-layer table.

One untraced launch gives the reference wall; one traced launch (same
spark-submit line, `traced_job.py` as the application, Spark's event log
on) gives driver spans and the event log. The in-process parse pass
(`inproc.parse_bench`) runs after both, on one core, over the payloads
the job had to process (up to 8 MB of each format; `parse.core_s` and
`extract.doc_overhead_core_s` count the rest at the timed mean).

Definitions (wall = seconds on the driver's clock; core = summed
executor run time):

  lake.scan_s              driver time of `load_input` (listing, footer
                           read) + summed "scan time" of every scan of the
                           input corpus (core)
  lake.committed_keys_s    driver time of `SnapshotTable.committed_keys`
                           + summed "scan time" of scans of the table (core)
  lake.resume_filter_s     driver time of `resume_filter` + wall of the
                           stages that scan the committed table
  lake.resume_kept_frac    docs committed by this launch / input docs
  lake.snapshots_read      committed snapshots the launch starts from
  lake.write_snapshot_s    driver time of `SnapshotTable.write_snapshot`
  lake.write_mb            size of the snapshot data the launch wrote
  lake.partition_metrics_s wall of the SQL execution that writes the
                           per-partition metrics table
  extract.routed_s         driver time of `extract_routed` + of the action
                           that executes the routed plan
  extract.routed_rescan_s  routed_s - (driver time of the branch calls +
                           wall of the union of the branch UDF stages)
  extract.doc_s / doc_core_s   wall / core of the stages that run the
                           doc-path UDF (`_extract_batches`)
  extract.doc_overhead_core_s  doc_core_s - in-process parse + flatten
                           core-s of the same docs
  extract.py_sent_mb / py_recv_mb / py_boot_s  Spark's Python SQL metrics
                           of the doc-path UDF (boot = start + init time)
  extract.paged_s, pages_per_s, paged_shuffle_mb, paged_task_skew
                           stages that run the page UDF (`_page_batches`):
                           wall, pages out / wall, shuffle read + write,
                           max / median task run time
  pdfnative.s, pages_per_s, task_skew   the same for the PDF byte-parse
                           UDF of `pdf_to_page_spans`
  parse.<fmt>.us_per_doc / mb_per_s, parse.core_s, flatten.*   one core,
                           in-process, no Spark (0 when the workload has
                           no doc of that format)
  spark.core_util          summed executor run time / (traced wall x cores)
  spark.gc_frac            JVM GC time / executor run time
  spark.spill_mb, shuffle_mb, tasks, task_failures   event-log totals
  job.peak_rss_mb          peak summed RSS of the untraced launch's process
                           tree (JVM + Python workers), sampled every 200 ms
  job.cpu_s                user + system CPU seconds of that process tree
  trace.residual_s         traced wall - summed self time of the layer
                           spans: the job's own driver code between its
                           layer calls (self time of `job.main`) plus any
                           time no span covers
  trace.overhead_frac      traced wall / untraced wall - 1
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Tuple

import eventlog
from inproc import parse_bench
from tracing import self_times

PARSE_FORMATS = ("html", "html_heavy", "md", "csv", "docx", "xlsx", "pptx",
                 "pdf_page", "pdfio")


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet")) / 1e6


def traced_run(w, launcher, work: str) -> Tuple[dict, int, int, List[str]]:
    plain = launcher.run()
    trace_dir = os.path.join(work, "trace")
    os.makedirs(trace_dir)
    traced = launcher.run(trace_dir=trace_dir)
    with open(os.path.join(trace_dir, "spans.json"), encoding="utf-8") as f:
        spans = json.load(f)
    log = eventlog.read(os.path.join(trace_dir, "events"))
    with open(os.path.join(w.table, "_snapshots.json"), encoding="utf-8") as f:
        new_snap = json.load(f)["snapshots"][-1]
    pb = parse_bench(w.todo, w.corpus.fmt)

    # the launch around the job's main: interpreter and JVM start-up
    # before it, session teardown and JVM exit after it
    main = next(s for s in spans if s["name"] == "job.main")
    spans.append({"id": len(spans), "name": "job.startup", "parent": None,
                  "start": traced["start"], "end": main["start"]})
    spans.append({"id": len(spans), "name": "job.teardown", "parent": None,
                  "start": main["end"], "end": traced["end"]})
    wall = traced["end"] - traced["start"]
    st = self_times(spans, wall, root="job.main")

    def span_s(name: str) -> float:
        return st["rows"].get(name, {}).get("total_s", 0.0)

    cores = launcher.host["cpus"]
    doc_nodes = log.udf_nodes("_extract_batches")
    page_nodes = log.udf_nodes("_page_batches")
    pdf_nodes = log.udf_nodes("batches")
    doc_st = log.stages_with(doc_nodes)
    page_st = log.stages_with(page_nodes)
    pdf_st = log.stages_with(pdf_nodes)
    table_scans = log.scan_nodes(w.table)
    input_scans = log.scan_nodes(w.input)
    table_st = log.stages_with(table_scans)
    tot = eventlog.totals(log)

    doc_s = eventlog.wall(doc_st)
    doc_core = sum(s.run_s for s in doc_st)
    paged_s = eventlog.wall(page_st)
    pdf_s = eventlog.wall(pdf_st)
    pages_out = log.metric(page_nodes, "number of output rows")
    raw_pages = sum(len(w.corpus.raw_lines.get(d, ())) for d in w.todo_ids)
    routed_s = span_s("extract.routed") + span_s("job.execute")
    branches = (span_s("extract.spans") + span_s("extract.paged")
                + span_s("pdfnative.to_page_spans")
                + eventlog.wall(doc_st + page_st + pdf_st))

    m: Dict[str, tuple] = {
        "lake.scan_s": (span_s("job.load_input")
                        + log.metric(input_scans, "scan time") / 1e3, "s"),
        "lake.committed_keys_s": (
            span_s("lake.committed_keys")
            + log.metric(table_scans, "scan time") / 1e3, "s"),
        "lake.resume_filter_s": (span_s("lake.resume_filter")
                                 + eventlog.wall(table_st), "s"),
        "lake.resume_kept_frac": (traced["docs"] / len(w.corpus.rows),
                                  "ratio"),
        "lake.snapshots_read": (traced["snapshots_read"], "count"),
        "lake.write_snapshot_s": (span_s("lake.write_snapshot"), "s"),
        "lake.write_mb": (_dir_mb(new_snap["data"]), "MB"),
        "lake.partition_metrics_s": (
            eventlog.execution_wall(log, "/metrics/snap-"), "s"),
        "extract.routed_s": (routed_s, "s"),
        "extract.routed_rescan_s": (routed_s - branches, "s"),
        "extract.doc_s": (doc_s, "s"),
        "extract.doc_core_s": (doc_core, "s"),
        "extract.doc_overhead_core_s": (doc_core - pb["doc_path_core_s"],
                                        "s"),
        "extract.py_sent_mb": (
            log.metric(doc_nodes, "data sent to Python workers") / 1e6,
            "MB"),
        "extract.py_recv_mb": (
            log.metric(doc_nodes, "data returned from Python workers")
            / 1e6, "MB"),
        "extract.py_boot_s": (
            (log.metric(doc_nodes, "time to start Python workers")
             + log.metric(doc_nodes, "time to initialize Python workers"))
            / 1e3, "s"),
        "extract.paged_s": (paged_s, "s"),
        "extract.pages_per_s": (pages_out / paged_s if paged_s else 0.0,
                                "pages/s"),
        "extract.paged_shuffle_mb": (
            sum(s.shuffle_read_b + s.shuffle_write_b for s in page_st)
            / 1e6, "MB"),
        "extract.paged_task_skew": (eventlog.task_skew(page_st), "ratio"),
        "pdfnative.s": (pdf_s, "s"),
        "pdfnative.pages_per_s": (raw_pages / pdf_s if pdf_s else 0.0,
                                  "pages/s"),
        "pdfnative.task_skew": (eventlog.task_skew(pdf_st), "ratio"),
    }
    for fmt in PARSE_FORMATS:
        row = pb["formats"].get(fmt)
        us = row["parse_s"] / row["docs"] * 1e6 if row else 0.0
        rate = row["mb"] / row["parse_s"] if row and row["parse_s"] else 0.0
        m[f"parse.{fmt}.us_per_doc"] = (us, "us")
        m[f"parse.{fmt}.mb_per_s"] = (rate, "MB/s")
    m["parse.core_s"] = (pb["parse_core_s"], "s")
    fl = pb["flatten"]
    m["flatten.us_per_doc"] = (fl["s"] / fl["docs"] * 1e6 if fl["docs"]
                               else 0.0, "us")
    m["flatten.spans_per_doc"] = (fl["spans"] / fl["docs"] if fl["docs"]
                                  else 0.0, "spans")
    m["spark.core_util"] = (tot["run_s"] / (wall * cores), "ratio")
    m["spark.gc_frac"] = (tot["gc_s"] / tot["run_s"] if tot["run_s"]
                          else 0.0, "ratio")
    m["spark.spill_mb"] = (tot["spill_mb"], "MB")
    m["spark.shuffle_mb"] = (tot["shuffle_mb"], "MB")
    m["spark.tasks"] = (tot["tasks"], "count")
    m["spark.task_failures"] = (tot["task_failures"], "count")
    m["job.peak_rss_mb"] = (plain["rss_mb"], "MB")
    m["job.cpu_s"] = (plain["cpu_s"], "s")
    m["trace.residual_s"] = (st["residual_s"], "s")
    m["trace.overhead_frac"] = (wall / plain["wall_s"] - 1, "ratio")

    lines = [f"# self-time table: traced wall {wall:.3f} s, untraced "
             f"{plain['wall_s']:.3f} s, residual {st['residual_s']:.3f} s",
             f"{'span':<26} {'calls':>5} {'self_s':>9} {'total_s':>9} "
             f"{'self/wall':>9}"]
    for name, row in sorted(st["rows"].items(),
                            key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:<26} {row['calls']:>5} {row['self_s']:>9.3f} "
                     f"{row['total_s']:>9.3f} {row['self_s'] / wall:>9.3f}")
    covered = sum(r["self_s"] for r in st["rows"].values())
    lines.append(f"{'(residual: outside layers)':<26} {'':>5} "
                 f"{st['residual_s']:>9.3f} {'':>9} "
                 f"{st['residual_s'] / wall:>9.3f}")
    lines.append(f"{'(sum of self + residual)':<26} {'':>5} "
                 f"{covered + st['residual_s']:>9.3f}")
    lines.append("# Python UDF SQL metrics (MB; seconds summed over tasks)")
    lines.append(f"{'udf':<10} {'sent_mb':>8} {'recv_mb':>8} {'start_s':>8} "
                 f"{'init_s':>8} {'run_s':>8} {'rows_out':>9}")
    for name, nodes in (("doc", doc_nodes), ("paged", page_nodes),
                        ("pdfnative", pdf_nodes)):
        vals = [log.metric(nodes, k) / d for k, d in (
            ("data sent to Python workers", 1e6),
            ("data returned from Python workers", 1e6),
            ("time to start Python workers", 1e3),
            ("time to initialize Python workers", 1e3),
            ("time to run Python workers", 1e3),
            ("number of output rows", 1))]
        lines.append(f"{name:<10} " + " ".join(
            f"{v:>8.3f}" for v in vals[:5]) + f" {vals[5]:>9.0f}")
    lines.append("# event-log stages (run/cpu/gc: summed over tasks)")
    lines.append(f"{'stage':>5} {'layer':<10} {'tasks':>5} {'wall_s':>7} "
                 f"{'run_s':>7} {'cpu_s':>7} {'gc_s':>6} {'shuf_r_mb':>9} "
                 f"{'shuf_w_mb':>9} {'spill_mb':>8} {'failed':>6}")
    label = {}
    for name, group in (("table", table_st), ("pdfnative", pdf_st),
                        ("paged", page_st), ("doc", doc_st)):
        label.update((s.stage_id, name) for s in group)
    for s in sorted(log.stages.values(), key=lambda s: s.stage_id):
        lines.append(
            f"{s.stage_id:>5} {label.get(s.stage_id, '-'):<10} "
            f"{len(s.task_run_s):>5} {s.completed - s.submitted:>7.3f} "
            f"{s.run_s:>7.3f} {s.cpu_s:>7.3f} {s.gc_s:>6.3f} "
            f"{s.shuffle_read_b / 1e6:>9.3f} {s.shuffle_write_b / 1e6:>9.3f} "
            f"{s.spill_b / 1e6:>8.3f} {s.failures:>6}")
    lines.append("# layer metrics")
    lines += [f"{k:<30} {v:>14.4f} {u}" for k, (v, u) in m.items()]
    attempted = 2 * len(w.todo)
    failed = plain["failed"] + traced["failed"]
    return m, attempted, failed, lines
