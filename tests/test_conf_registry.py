"""Static guards for the engine's settings (no JVM needed).

Pass switches and gates are ``spark.psql.*`` confs registered in
``compiler.PSQL_CONFS`` and read through one per-statement snapshot;
environment variables are for deployment settings only.
"""

import ast
import pathlib
import re

from duckdb_psql_spark.compiler import PSQL_CONFS

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "duckdb_psql_spark"

DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_GRAFT_DRIVER_JAVA_OPTIONS",
}


def _trees():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE.parent), ast.parse(path.read_text())


def _is_environ(node) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree):
    """(line, name) of every os.environ / os.getenv read by literal name."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and (
            (node.func.attr in ("get", "pop", "setdefault") and _is_environ(node.func.value))
            or (
                node.func.attr == "getenv"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "os"
            )
        ):
            key = node.args[0] if node.args else None
        else:
            continue
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield node.lineno, key.value


def test_library_reads_only_deployment_env_vars():
    bad = [
        f"{path}:{line} {name}"
        for path, tree in _trees()
        for line, name in _env_reads(tree)
        if name.startswith("SPARK_GRAFT_") and name not in DEPLOYMENT_ENV
    ]
    assert not bad, "env knobs outside the deployment settings: " + ", ".join(bad)


def test_every_named_psql_conf_is_registered():
    pat = re.compile(r"spark\.psql\.[A-Za-z][\w.]*[A-Za-z]")
    bad = [
        f"{path}:{node.lineno} {key}"
        for path, tree in _trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        for key in pat.findall(node.value)
        if key not in PSQL_CONFS
    ]
    assert not bad, "unregistered spark.psql confs: " + ", ".join(bad)


def test_no_direct_psql_conf_reads():
    # a direct spark.conf.get would bypass the statement snapshot that
    # the plan-cache key is built from
    bad = []
    for path, tree in _trees():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "get"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and str(node.args[0].value).startswith("spark.psql.")
            ):
                bad.append(f"{path}:{node.lineno}")
    assert not bad, "direct spark.psql conf reads: " + ", ".join(bad)


def test_tiny_byte_defaults_match_session_band():
    from duckdb_psql_spark.session import TINY_INPUT_BYTES

    for key in ("spark.psql.scanReuse.minBytes", "spark.psql.blockPersist.minBytes"):
        assert PSQL_CONFS[key][0] == str(TINY_INPUT_BYTES)


def test_readme_settings_table_matches_registry():
    readme = (PACKAGE.parent / "README.md").read_text()
    rows = re.findall(r"^\| `(spark\.psql\.[\w.]+)` \| (?:`([^`]*)`|\(empty\)) \|", readme, re.M)
    assert {k: d for k, d in rows} == {k: d for k, (d, _p) in PSQL_CONFS.items()}
