"""Partitioned/resumable runner: exactness vs the global run, and
manifest-based resume (north-rule checkpoint contract)."""

from __future__ import annotations

import json
import os

from sagan_spark.pages import pages_table
from sagan_spark.pipeline import Pipeline
from sagan_spark.runner.job import lookback_seconds, run_partitioned
from sagan_spark.rules.fixture_rules import fixture_rules

from .conftest import SF_DIR


def test_lookback_bound():
    lb = lookback_seconds(list(fixture_rules()))
    assert lb == 7200  # max(after 3600, th 7200, xbit 7200+0, flexbit 3600+0)


def test_ruleset_change_invalidates_lineage():
    """R2 dynamic_load, batch form: a ruleset edit changes the lineage
    fingerprint, so every manifest mismatches and the next run
    recomputes under the new rules (reload-on-restart)."""
    from sagan_spark.runner.job import lineage_fingerprint

    a = lineage_fingerprint("/in", 4, ruleset_text="alert ... sid:1;")
    b = lineage_fingerprint("/in", 4, ruleset_text="alert ... sid:2;")
    same = lineage_fingerprint("/in", 4, ruleset_text="alert ... sid:1;")
    assert a != b and a == same
    # input identity also participates
    assert lineage_fingerprint("/other", 4, ruleset_text="alert ... sid:1;") != a


def test_code_change_invalidates_lineage(tmp_path):
    """The code rev in the lineage is a hash of the sagan_spark sources
    themselves: one changed source byte changes it, and the package
    zipped for ``spark-submit --py-files`` hashes the same as its tree."""
    import shutil
    import zipfile

    import sagan_spark
    from sagan_spark.runner.job import lineage_fingerprint, source_digest

    pkg = tmp_path / "sagan_spark"
    shutil.copytree(
        os.path.dirname(sagan_spark.__file__), pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    before = source_digest(pkg)
    assert lineage_fingerprint("/in", 4).endswith("@" + before[:12])

    archive = tmp_path / "sagan_spark.zip"
    shutil.make_archive(str(archive.with_suffix("")), "zip", tmp_path, "sagan_spark")
    assert source_digest(zipfile.Path(archive, "sagan_spark/")) == before

    src = pkg / "runner" / "job.py"
    data = bytearray(src.read_bytes())
    data[-1] ^= 1
    src.write_bytes(bytes(data))
    assert source_digest(pkg) != before


def test_partitioned_equals_global_and_resumes(spark, tmp_path):
    pages = pages_table(spark, SF_DIR, rep=4)
    out = str(tmp_path / "sinks")

    summary = run_partitioned(spark, pages, out, partition_hours=12, lineage="t1")
    assert summary["units"] == 4 and summary["run"] == 4 and summary["skipped"] == 0

    # global reference
    pipe = Pipeline(spark)
    global_counts = {
        f"{r['sink']}/{r['signature_id']}": r["n"]
        for r in pipe.sink_counts(pages).collect()
    }
    assert summary["sink_counts"] == global_counts
    assert summary["routed_rows"] == sum(global_counts.values())

    # routed parquet matches too (set equality via counts per part dir)
    manifests = sorted(os.listdir(os.path.join(out, "_manifests")))
    assert len(manifests) == 4
    m0 = json.load(open(os.path.join(out, "_manifests", manifests[0])))
    assert m0["lineage"] == "t1"
    assert m0["partition"]["lookback_s"] == 7200
    assert m0["metrics"]["wall_s"] > 0

    # resume: same lineage → all skipped, same totals
    summary2 = run_partitioned(spark, pages, out, partition_hours=12, lineage="t1")
    assert summary2["run"] == 0 and summary2["skipped"] == 4
    assert summary2["sink_counts"] == global_counts

    # changed lineage (code/ruleset/input changed) → reruns
    summary3 = run_partitioned(spark, pages, out, partition_hours=12, lineage="t2")
    assert summary3["run"] == 4 and summary3["sink_counts"] == global_counts
