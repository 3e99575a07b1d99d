"""bench.py against the query registry, without a Spark session: bench times
only queries() entries, every production parameter set binds to its query,
and bench itself defines no query."""

import ast
import inspect
import pathlib

import __spark_entry__ as entry
import bench

# The two kernel-throughput rows (EM iterations, signature-stage scaling) time
# these operators directly; they are not queries. Any other import from the
# operators package would be query logic living in bench.
KERNEL_IMPORTS = {
    ("lmw_tree_spark.operators.emtree", "em_tree_fit"),
    ("lmw_tree_spark.operators.signature_stage", "extract_signatures"),
}


def _bench_tree():
    return ast.parse(pathlib.Path(bench.__file__).read_text())


def test_bench_times_registered_queries():
    assert len(bench.QUERIES) == len(set(bench.QUERIES)) == 85
    assert set(bench.QUERIES) <= set(entry.queries())


def test_bench_params_bind_to_their_queries():
    qs = entry.queries()
    assert set(entry.BENCH_PARAMS) <= set(bench.QUERIES)
    for name, params in entry.BENCH_PARAMS.items():
        # keyword-only: the registry's (spark, sf_dir) call stays the oracle's
        inspect.signature(qs[name]).bind(None, "", **params)


def test_bench_defines_no_query():
    tree = _bench_tree()
    operator_imports = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            assert not any(
                a.name.startswith("lmw_tree_spark.operators") for a in node.names
            )
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "lmw_tree_spark.operators"
        ):
            operator_imports |= {(node.module, a.name) for a in node.names}
    assert operator_imports <= KERNEL_IMPORTS, operator_imports
    functions = {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    assert not {f for f in functions if f.endswith("_production")}
    assert "_graph_edges" not in functions
