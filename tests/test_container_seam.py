"""The container IO seam: binaryfiles.write_parts and binaryfiles.map_files
carry every executor-side container write and per-file decode."""

from __future__ import annotations

import ast
import glob
import hashlib
import os

import pandas as pd

from flexcalc_spark.sources import binaryfiles as bf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digests(out_dir: str) -> dict[str, str]:
    out = {}
    for p in glob.glob(os.path.join(out_dir, "*")):
        with open(p, "rb") as f:
            out[os.path.basename(p)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_write_parts_skips_empty_partitions_and_rewrites_same_bytes(spark, tmp_path):
    """One part file per NON-empty partition, named by partition id; a
    second run into the same dir leaves the same files and bytes (no
    attempt temp file behind)."""
    df = spark.range(0, 2, numPartitions=4)
    filled = [i for i, part in enumerate(df.rdd.glom().collect()) if part]
    assert 0 < len(filled) < 4  # the case under test: some partition is empty
    out = str(tmp_path)

    def write():
        return sorted(
            (os.path.basename(r.path), r.n_records)
            for r in bf.write_parts(
                df, out, ".txt",
                lambda pdf: [str(v) for v in pdf["id"]],
                lambda recs: ",".join(recs).encode(),
            ).collect()
        )

    written = write()
    assert [name for name, _ in written] == [f"part-{i:05d}.txt" for i in filled]
    assert sum(n for _, n in written) == 2
    first = _digests(out)
    assert sorted(first) == [name for name, _ in written]
    assert write() == written
    assert _digests(out) == first


def test_map_files_yields_nothing_for_a_zero_row_file(spark, tmp_path):
    """decode runs once per file; a file that decodes to no rows yields
    no frame, and the rows of the others come back in schema order."""
    (tmp_path / "a.txt").write_bytes(b"x\ny\n")
    (tmp_path / "b.txt").write_bytes(b"")

    def decode(path, blob):
        name = path.rsplit("/", 1)[-1]
        return [(name, line) for line in blob.decode().split("\n") if line]

    pdf = pd.DataFrame({
        "path": ["file:/d/a.txt", "file:/d/b.txt"],
        "content": [b"x\ny\n", b""],
    })
    frames = list(bf._file_frames(iter([pdf]), decode, ["file", "line"]))
    assert [f.values.tolist() for f in frames] == [[["a.txt", "x"], ["a.txt", "y"]]]

    got = bf.map_files(
        bf.read_binary_dir(spark, str(tmp_path), "*.txt"),
        "file string, line string", decode,
    ).collect()
    assert sorted((r.file, r.line) for r in got) == [("a.txt", "x"), ("a.txt", "y")]


def _container_io_call(node: ast.Call) -> str | None:
    func = node.func
    name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
    if name == "partitionId" and ast.unparse(func.value) == "TaskContext.get()":
        return "TaskContext.get().partitionId()"
    if name == "atomic_write_bytes":
        return "atomic_write_bytes("
    if name == "format" and any(
        isinstance(a, ast.Constant) and a.value == "binaryFile" for a in node.args
    ):
        return 'format("binaryFile")'
    return None


def test_container_io_goes_through_binaryfiles():
    """Partition-id file names, atomic part writes and binaryFile scans
    live in sources/binaryfiles.py only: every other module reaches them
    through write_parts, map_files, read_binary_dir or stream_binary_dir."""
    seam = os.path.join(ROOT, "flexcalc_spark", "sources", "binaryfiles.py")
    bad = []
    for path in sorted(glob.glob(os.path.join(ROOT, "flexcalc_spark", "**", "*.py"),
                                 recursive=True)):
        if path == seam:
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and (what := _container_io_call(node)):
                bad.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} {what}")
    assert not bad, bad
