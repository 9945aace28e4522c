"""Registry-wide driver-contract guards.

The round driver canonicalizes each ``queries()`` result with pandas
(sort over all columns, then hash); non-scalar cells (array / struct /
map) are unhashable there and turn a mathematically-correct entry into
a red driver row — exactly what happened to ``kmeans_train`` in round
7 (``CORRECTNESS_r07.json``: ``TypeError: unhashable type: 'list'``)
while the tuple-izing local gate stayed green. The hash is also
dtype-sensitive: a DuckDB column pandas renders as float64 against a
Spark int64 mismatches even with identical values (round 8:
``budget_select``/``kanon_census``/``bpe_pairs`` via uncast
``SUM(BIGINT)`` → HUGEINT). These walks pin the contract the
value-level local gate cannot see: scalar-only Spark schemas, no
HUGEINT oracle columns, and int/float/str family parity between every
Spark output column and its DuckDB oracle twin.

Construction is done ONCE on a thread pool (module-scoped fixture):
building a registry DataFrame is mostly driver-side analysis, and the
handful of entries that run collects at build time (kmeans, pagerank,
calibration) overlap, so the full registry walk costs ~20 s on the
shared session instead of ~95 s serial — cheap enough for the default
lane, which is where a guard against future registry additions has to
live.
"""

import ast
import json
import os
import re
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

import __spark_entry__ as entry

_NON_SCALAR = ("array", "struct", "map")
_REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def registry_schemas(spark, sf_dir):
    """name -> [(column, spark typeName)] for every registry entry."""
    queries = entry.queries()

    def schema_of(item):
        name, fn = item
        return name, [
            (f.name, f.dataType.typeName()) for f in fn(spark, sf_dir).schema.fields
        ]

    with ThreadPoolExecutor(max_workers=12) as ex:
        return dict(ex.map(schema_of, queries.items()))


@pytest.fixture(scope="module")
def oracle_described(sf_dir):
    """name -> [(column, duckdb type)] via DESCRIBE (plans, never runs)."""
    import duckdb

    from m3d_engine_spark.sources.testdata import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {
        name: [
            (col, typ)
            for col, typ, *_ in con.execute(f"DESCRIBE {sql}").fetchall()
        ]
        for name, sql in entry.oracle_sql().items()
    }
    con.close()
    return out


def test_every_registry_entry_has_scalar_only_schema(registry_schemas):
    bad = [
        (name, col, typ)
        for name, fields in registry_schemas.items()
        for col, typ in fields
        if typ in _NON_SCALAR
    ]
    assert bad == [], (
        "driver canonicalizer cannot hash non-scalar cells; "
        f"explode/flatten these columns: {bad}"
    )


def test_no_oracle_column_types_hugeint(oracle_described):
    """Rule: always ``CAST(SUM(...) AS BIGINT)`` in oracle SQL — window
    sums and every UNION arm included (UNION type-unifies the column).
    The fetchall-based local gate is blind to this class because Python
    ints compare equal regardless of the pandas dtype."""
    bad = [
        (name, col, typ)
        for name, cols in oracle_described.items()
        for col, typ in cols
        if "HUGEINT" in typ.upper()
    ]
    assert bad == [], (
        "pandas renders HUGEINT as float64 and the driver hashes dtypes; "
        f"CAST these oracle columns to BIGINT: {bad}"
    )


def _duck_family(t: str) -> str:
    t = t.upper()
    if any(x in t for x in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT")):
        return "int"
    if any(x in t for x in ("DOUBLE", "FLOAT", "REAL", "DECIMAL", "HUGEINT")):
        # HUGEINT/DECIMAL land in pandas as float64 — float family
        return "float"
    if "VARCHAR" in t:
        return "str"
    if "BOOLEAN" in t:
        return "bool"
    return t


def _spark_family(t: str) -> str:
    if t in ("long", "integer", "short", "byte"):
        return "int"
    if t in ("double", "float"):
        return "float"
    if t == "string":
        return "str"
    if t == "boolean":
        return "bool"
    return t


def test_oracle_dtype_family_parity(registry_schemas, oracle_described):
    """Column-name sets and int/float/str/bool dtype families must
    match between every Spark output and its DuckDB oracle — the
    pandas-dtype surface the driver's hash actually compares. Catches
    the whole HUGEINT/DECIMAL-vs-long class plus accidental
    int-vs-double divergence for any future entry, before a driver
    round does."""
    problems = []
    for name, cols in oracle_described.items():
        spark_fields = registry_schemas[name]
        d = {c: _duck_family(t) for c, t in cols}
        s = {c: _spark_family(t) for c, t in spark_fields}
        if set(d) != set(s):
            problems.append((name, "columns", sorted(set(d) ^ set(s))))
            continue
        problems.extend(
            (name, c, f"duckdb {d[c]} vs spark {s[c]}")
            for c in d
            if d[c] != s[c]
        )
    assert problems == [], problems


def test_oracle_keys_subset_of_queries_and_no_duplicates():
    """Both registries are derived from the module's top-level
    ``q_<name>`` functions: every entry has an oracle, and nothing
    else is an entry."""
    tree = ast.parse((_REPO / "__spark_entry__.py").read_text())
    q_names = {
        node.name[2:]
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_")
    }
    assert set(entry.oracle_sql()) == set(entry.queries()) == q_names
    assert len(q_names) == 210, len(q_names)


def _ledger_green_rounds(ledger_dir: Path) -> dict[str, int]:
    """name -> latest round whose ``CORRECTNESS_r<N>.json`` row is green."""
    last: dict[str, int] = {}
    for path in ledger_dir.glob("CORRECTNESS_r*.json"):
        rnd = int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name).group(1))
        for name, row in json.loads(path.read_text()).items():
            green = row["rows_match"] and row["schema_match"] and row["hash_match"]
            if green and not row["err"]:
                last[name] = max(last.get(name, -1), rnd)
    return last


def test_driver_window_is_the_stalest_green_rows():
    """The driver checks the first 50 entries of ``queries()``: they
    must be the 50 whose latest green ledger row is oldest (no green
    row at all first), ties by name, so every entry comes round."""
    last = _ledger_green_rounds(_REPO)
    names = list(entry.queries())
    stalest = sorted(names, key=lambda n: (last.get(n, -1), n))
    assert names[:50] == stalest[:50]


def test_red_latest_row_sorts_as_stale(tmp_path):
    """An entry whose latest row is red counts from its last GREEN
    round; one never green comes first."""
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None}
    ledgers = {
        1: {"a": green, "m": green, "z": green},
        2: {"a": green, "m": green, "z": {**green, "hash_match": False}},
        3: {"a": green, "m": {**green, "err": "boom"}},
    }
    for rnd, rows in ledgers.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    order = entry._stalest_first(["a", "m", "new", "z"], tmp_path)
    assert order == ["new", "z", "m", "a"]


def test_driver_mimic_rejects_unknown_entries(tmp_path):
    """A misspelled entry name must fail the mimic before any Spark
    session starts, not end in "0 failures" having checked nothing.
    Run from another directory: the tool finds the repo itself."""
    proc = subprocess.run(
        [sys.executable, str(_REPO / "tools" / "driver_mimic.py"),
         str(tmp_path), "pricing_summary", "no_such_entry"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert "no_such_entry" in proc.stderr
    assert "pricing_summary" not in proc.stderr


# ------------------------------------------------------ reachability
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _defined_names(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines. ``@register`` Algorithm
    classes are reached through the CLI registry by their registered
    name, and dunders by the interpreter, so neither is a candidate."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        registered = any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
            for d in node.decorator_list
        )
        names = [] if registered else [node.name]
    elif isinstance(node, ast.Assign):
        names = [t.id for t in node.targets if isinstance(t, ast.Name)]
    elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        names = [node.target.id]
    else:
        names = []
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _unreached_definitions() -> list[str]:
    """``module:name`` of every top-level definition in
    ``m3d_engine_spark/`` that no non-test ``.py``/``.json`` file names,
    apart from mentions inside its own span or inside another
    unreached definition (the least fixed point of the name graph).
    ``tests/hive_scripts.py`` sets up the Hive scenarios, so it counts
    as a caller. Each file's word tokens are indexed once."""
    pkg = _REPO / "m3d_engine_spark"
    tests = _REPO / "tests"
    roots = set(_WORD.findall((tests / "hive_scripts.py").read_text()))
    defs: list[tuple[str, str, set[str]]] = []  # (module, name, span tokens)
    for dirpath, dirnames, filenames in os.walk(_REPO):
        dirnames[:] = [
            d for d in dirnames
            if not d.startswith(".") and d != "__pycache__"
            and Path(dirpath, d) != tests
        ]
        for fn in filenames:
            path = Path(dirpath, fn)
            if path.suffix not in (".py", ".json"):
                continue
            text = path.read_text(encoding="utf-8")
            if pkg not in path.parents:
                roots.update(_WORD.findall(text))
                continue
            lines = text.splitlines()
            owned = set()
            for node in ast.parse(text).body:
                names = _defined_names(node)
                if not names:
                    continue
                lo = min(
                    [node.lineno]
                    + [d.lineno for d in getattr(node, "decorator_list", [])]
                )
                span = set(_WORD.findall("\n".join(lines[lo - 1 : node.end_lineno])))
                owned.update(range(lo, node.end_lineno + 1))
                module = str(path.relative_to(_REPO))
                defs += [(module, n, span - {n}) for n in names]
            for i, line in enumerate(lines, 1):
                if i not in owned:
                    roots.update(_WORD.findall(line))
    by_name: dict[str, list[int]] = {}
    for i, (_, name, _) in enumerate(defs):
        by_name.setdefault(name, []).append(i)
    todo = [i for name in roots for i in by_name.get(name, ())]
    reached = set(todo)
    while todo:
        for token in defs[todo.pop()][2]:
            for i in by_name.get(token, ()):
                if i not in reached:
                    reached.add(i)
                    todo.append(i)
    return sorted(
        f"{module}:{name}"
        for i, (module, name, _) in enumerate(defs)
        if i not in reached
    )


def test_every_package_definition_is_reached():
    """Code that only tests reach is code the engine never runs: a
    top-level definition must be named by a registry entry, an
    algorithm, a tool, a bench, an example or another reached
    definition. Delete what this lists, with the tests that only
    check it."""
    unreached = _unreached_definitions()
    assert not unreached, "unreached:\n" + "\n".join(unreached)


def test_reused_frames_have_one_materialization_form():
    """A frame read more than once is a tracked lazy local checkpoint
    (``operators.base.tracked_checkpoint``), freed by whoever tracks
    it. A ``.persist(``/``.cache(`` would bring back a second form and
    a second lifetime to release."""
    pkg = _REPO / "m3d_engine_spark"
    hits = [
        f"{path.relative_to(_REPO)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".persist(" in line or ".cache(" in line
    ]
    assert not hits, hits
