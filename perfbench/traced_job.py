"""Traced launch of the shipped job: ``spark-submit ... traced_job.py
<spans.json> <job args...>``.

Loads `jobs/extract.py` unchanged, wraps the public calls into each
layer (session, input scan, lake resume and commit, routed extraction
and its branches, the action that executes the plan) with spans from
`tracing.Tracer`, runs the job's `main`, and writes the spans when the
job returns.
"""

from __future__ import annotations

import importlib.util
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import Tracer  # noqa: E402


def main() -> int:
    spans_path, job_args = sys.argv[1], sys.argv[2:]
    spec = importlib.util.spec_from_file_location(
        "extract_job", os.path.join(ROOT, "jobs", "extract.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from docling_spark import lake
    from docling_spark.operators import extract, pdfnative

    tr = Tracer()
    tr.wrap(job, "build_spark", "spark.session")
    tr.wrap(job, "load_input", "job.load_input")
    tr.wrap(lake, "resume_filter", "lake.resume_filter")
    tr.wrap(lake.SnapshotTable, "committed_keys", "lake.committed_keys")
    tr.wrap(lake, "partition_metrics", "lake.partition_metrics")
    tr.wrap(lake.SnapshotTable, "write_snapshot", "lake.write_snapshot")
    tr.wrap(extract, "extract_routed", "extract.routed")
    tr.wrap(extract, "extract_spans", "extract.spans")
    tr.wrap(extract, "extract_spans_paged", "extract.paged")
    tr.wrap(pdfnative, "pdf_to_page_spans", "pdfnative.to_page_spans")
    tr.wrap(DataFrame, "count", "job.execute")
    tr.wrap(SparkSession, "stop", "spark.stop")
    try:
        return tr.span("job.main", job.main, job_args)
    finally:
        tr.dump(spans_path)


if __name__ == "__main__":
    raise SystemExit(main())
