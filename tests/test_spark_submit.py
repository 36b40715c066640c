"""North-rule launch-path check: the pipeline runs via
``spark-submit --py-files selfclean_spark.zip`` exactly as a cluster
would launch it (the zip is the ONLY way the package reaches
executors there — no repo on sys.path), end to end from a parquet
source to checkpointed components.

The subprocess gets a scrubbed PYTHONPATH so the import genuinely
resolves from the --py-files archive, not from the repo checkout.

Both runs also check conf precedence: a submitted ``--conf`` wins over
``get_spark``'s defaults, and the Python workers fork from
``pyspark.daemon`` wherever the package daemon cannot start.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")

# spark-submit driver: runs the CLI on any arguments after the output
# path (as tools/submit_main.py does), then records the session's conf
# and the daemon module its Python workers were forked from
PROBE = """
import json, sys

import pandas as pd
from selfclean_spark.session import get_spark

out, cli_args = sys.argv[1], sys.argv[2:]
if cli_args:
    from selfclean_spark.cli import main

    assert main(cli_args) == 0
spark = get_spark()


def daemon(batches):
    for _ in batches:
        yield pd.DataFrame({"daemon": [sys.modules["__main__"].__spec__.name]})


rows = spark.range(2, numPartitions=2).mapInPandas(daemon, "daemon string").collect()
with open(out, "w") as f:
    json.dump({
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "max_partition_bytes": spark.conf.get("spark.sql.files.maxPartitionBytes"),
        "daemons": sorted({r.daemon for r in rows}),
    }, f)
"""


def _submit(tmp_path, submit_args: list[str], probe_args: list[str], env: dict) -> dict:
    """Run PROBE under spark-submit; return what it recorded."""
    probe, out = tmp_path / "probe_main.py", tmp_path / "probe.json"
    probe.write_text(PROBE)
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--conf", "spark.ui.enabled=false",
         *submit_args, str(probe), str(out), *probe_args],
        env=env, capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(out.read_text())


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    # tiny deterministic corpus written by the session fixture
    sys.path.insert(0, REPO)
    from selfclean_spark.synth import generate_code_files

    source = str(tmp_path / "src_parquet")
    spark.createDataFrame(
        generate_code_files(n_rows=80, seed=11).code_files
    ).write.mode("overwrite").parquet(source)

    zip_path = str(tmp_path / "selfclean_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles_zip.py"), zip_path],
        check=True, capture_output=True,
    )

    ckpt = str(tmp_path / "ckpt")
    out_json = str(tmp_path / "summary.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    probe = _submit(
        tmp_path,
        ["--conf", "spark.sql.shuffle.partitions=8", "--py-files", zip_path],
        ["--source", source, "--checkpoint-root", ckpt, "--output-json", out_json],
        env,
    )
    assert probe["shuffle_partitions"] == "8"  # submitted, not get_spark's 32
    assert probe["max_partition_bytes"] == "16m"  # not submitted: the default
    # the package arrives inside tasks only, too late to start its daemon
    assert probe["daemons"] == ["pyspark.daemon"]
    summary = json.load(open(out_json))
    # the synth corpus plants duplicates — the submitted run must find them
    assert summary["verified_edges"] > 0
    assert 0 < summary["components"] < 80
    stages = {m["stage"] for m in summary["stage_metrics"]}
    assert {"signatures", "candidates", "verified_edges", "components"} <= stages
    # checkpoints are durable and resumable artifacts
    assert os.path.isdir(os.path.join(ckpt, "components"))


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_conf_wins_over_defaults(tmp_path):
    """With the package importable at daemon start the default is the
    package daemon; a submitted ``spark.python.daemon.module`` and
    ``spark.sql.files.maxPartitionBytes`` still win."""
    probe = _submit(
        tmp_path,
        ["--conf", "spark.python.daemon.module=pyspark.daemon",
         "--conf", "spark.sql.files.maxPartitionBytes=64m"],
        [],
        {**os.environ, "PYTHONPATH": REPO},
    )
    assert probe["daemons"] == ["pyspark.daemon"]
    assert probe["max_partition_bytes"] == "64m"
    assert probe["shuffle_partitions"] == "32"  # not submitted: the default
