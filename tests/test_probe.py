"""scripts/probe.py end to end, and the scripts' import discipline."""

from __future__ import annotations

import ast
import glob
import json
import os
import shutil
import subprocess
import sys

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_probe_default_mode_prints_per_layer_json(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "probe.py"),
         "q_agg_groupby", "--sf", SF_DIR, "--runs", "2"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.splitlines()[-1])["q_agg_groupby"]
    assert got["wall_s"] > 0
    assert got["exec.jobs"] >= 1
    assert got["plan.nodes"] >= 1
    assert got["self_s"]["operators.construct"] > 0
    assert len(got["runs_s"]) == 2
    assert isinstance(got["driver.retained_mb_per_call"], float)


def test_no_script_puts_a_literal_path_on_sys_path():
    """A script run from another checkout must import that checkout's
    code: a literal sys.path entry would import whichever tree it names
    and silently defeat a worktree A/B."""
    bad = []
    for path in sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("insert", "append")
                    and ast.unparse(node.func.value) == "sys.path"
                    and any(isinstance(a, ast.Constant) and isinstance(a.value, str)
                            for a in node.args)):
                bad.append(f"{os.path.basename(path)}:{node.lineno}")
    assert not bad, f"literal sys.path entries: {bad}"


def test_ab_arm_workers_run_their_own_tree(tmp_path):
    """An A/B arm's Python workers import the arm's tree, not the cwd
    the probe was started from: workers put their cwd (the JVM's) ahead
    of the shipped package zip, so _session starts the JVM in its tree."""
    tree = tmp_path / "tree"
    shutil.copytree(os.path.join(ROOT, "flexcalc_spark"), tree / "flexcalc_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code = """
import sys
sys.path.insert(0, sys.argv[1])
import probe

spark, _ = probe._session(sys.argv[2], cpus=1, shuffle=1)


def where(batches):
    import flexcalc_spark
    import pandas as pd

    for _ in batches:
        yield pd.DataFrame({"f": [flexcalc_spark.__file__]})


print("WORKER", spark.range(1, numPartitions=1).mapInPandas(where, "f string").first()[0])
probe.stop_spark(spark)
"""
    out = subprocess.run(
        [sys.executable, "-c", code, os.path.join(ROOT, "scripts"), str(tree)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    worker_file = [ln for ln in out.stdout.splitlines() if ln.startswith("WORKER ")][-1]
    assert worker_file.split(" ", 1)[1].startswith(str(tree)), worker_file
