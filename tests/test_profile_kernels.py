"""Smoke test of tools/profile_kernels.py: it runs in-process through the
library's public kernels, without Spark, and its chunk sweep leaves the
descent chunk as it found it."""

import importlib.util
import os

from lmw_tree_spark.operators import tree as tree_ops

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "profile_kernels.py"
)


def test_profile_kernels_smoke(capsys):
    spec = importlib.util.spec_from_file_location("profile_kernels", _TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    chunk = tree_ops._DESCEND_CHUNK
    report = tool.main(
        ["--rows", "256", "--bits", "256", "--order", "4", "--depth", "2",
         "--trials", "1", "--chunks", "100,1024"]
    )
    assert tree_ops._DESCEND_CHUNK == chunk
    assert report["rows"] == 256 and report["leaves"] >= 1
    got = {(k["kernel"], k["chunk"]) for k in report["kernels"]}
    em = {"descend", "descend_cold", "accumulate"}
    assert got == {("signatures", None)} | {(k, c) for k in em for c in (100, 1024)}
    assert all(k["s"] > 0 and k["rows_per_s"] > 0 for k in report["kernels"])
    assert capsys.readouterr().out.rstrip().endswith("}")
