"""One read path for fixture tables: outside ``sources/tables.py`` no
engine module may call ``.parquet(`` on a path built from ``sf_dir``
(``f"{sf_dir}/orders.parquet"``, ``os.path.join(sf_dir, ...)``, or
``sf_dir`` itself under a name glob). Such a read bypasses the
table-handle memo and pays a file listing plus a schema-inference
Spark job on every call; use ``load_table``, ``raw_table_schema`` or
``stream_table`` instead. Paths are followed through local
assignments within the enclosing function. Paths derived from
``sf_dir`` by another function (scratch dirs, materialized layouts)
are not fixture paths and pass."""

from __future__ import annotations

import ast
import pathlib

SRC = pathlib.Path(__file__).resolve().parent.parent / "end2end_data_pipeline_spark"
READ_PATH = SRC / "sources" / "tables.py"

# calls that build a path from their arguments without leaving the
# fixture directory
_PATH_BUILDERS = {"join", "abspath", "realpath", "normpath", "fspath", "str", "Path"}


def _assignments(fn: ast.AST) -> dict[str, list[ast.expr]]:
    out: dict[str, list[ast.expr]] = {}
    for node in ast.walk(fn):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    out.setdefault(t.id, []).append(node.value)
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            if isinstance(node.target, ast.Name):
                out.setdefault(node.target.id, []).append(node.value)
    return out


def _is_fixture_path(node: ast.expr, env: dict, seen: frozenset = frozenset()) -> bool:
    if isinstance(node, ast.Name):
        if node.id == "sf_dir":
            return True
        if node.id in seen:
            return False
        return any(
            _is_fixture_path(v, env, seen | {node.id}) for v in env.get(node.id, ())
        )
    if isinstance(node, ast.JoinedStr):
        return any(
            _is_fixture_path(v.value, env, seen)
            for v in node.values
            if isinstance(v, ast.FormattedValue)
        )
    if isinstance(node, ast.BinOp):
        return _is_fixture_path(node.left, env, seen) or _is_fixture_path(
            node.right, env, seen
        )
    if isinstance(node, ast.Call):
        func = node.func
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
        if name in _PATH_BUILDERS:
            return any(_is_fixture_path(a, env, seen) for a in node.args)
    return False


def _offenders(tree: ast.Module, path: str) -> list[str]:
    lines: set[int] = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        env = _assignments(fn)
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and any(_is_fixture_path(a, env) for a in node.args)
            ):
                lines.add(node.lineno)
    return [f"{path}:{n}" for n in sorted(lines)]


def test_fixture_tables_are_read_only_through_tables_py():
    offenders = []
    for path in sorted(SRC.rglob("*.py")):
        if path == READ_PATH:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        offenders.extend(_offenders(tree, str(path)))
    assert not offenders, (
        "fixture table read outside sources/tables.py bypasses the "
        f"table-handle memo (use load_table / raw_table_schema / stream_table): {offenders}"
    )


def test_lint_fires_on_every_guarded_shape():
    """Each read shape the engine used before the memo must produce an
    offender; reads of derived scratch paths must not."""
    bad = """
def stream_schema(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    return reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)

def joined(spark, sf_dir):
    docs_path = _os.path.join(sf_dir, "documents.parquet")
    return spark.read.parquet(docs_path).schema

def inline(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")

def via_abspath(spark, sf_dir):
    sf_abs = os.path.abspath(sf_dir)
    return spark.read.parquet(sf_abs + "/lineitem.parquet")

def ok_scratch(spark, sf_dir):
    fx = _schema_evolution_fixture(spark, sf_dir)
    tag = sf_tag(os.path.abspath(sf_dir))
    out = os.path.join(tempfile.gettempdir(), "warehouse", tag)
    df = spark.read.parquet(fx)
    df.write.parquet(out)
    return spark.read.parquet(out)
"""
    offenders = _offenders(ast.parse(bad), "<test>")
    assert [o.split(":")[1] for o in offenders] == ["4", "6", "10", "13", "17"], offenders
