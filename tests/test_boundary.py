"""The package is the crawl: every module is imported, directly or
through function-local imports, by the crawl driver, the HTTP API, the
Kafka bridge, the golden model, the Spark session, the Iceberg catalog
seam, or the benchmark and tool scripts — and the driver-contract board
(queries.py / oracles.py) checks only modules reached that way.

Spark-free: the import graph is read from the source with `ast`.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "distributed_web_crawler_spark"

ROOTS = ("crawl.driver", "api.http_api", "sources.kafka_bridge", "golden",
         "session", "tables.catalog")
SCRIPT_DIRS = ("perfbench", "tools")
BOARD = ("queries", "oracles")

# Outside the crawl, kept only while tier-1 tests still pin them; a module
# leaves this list when it is deleted (or when the crawl starts using it).
PINNED_BY_TESTS = frozenset({
    "pipeline.similarity",   # caption_alignment
    "pipeline.text",         # training-mix report, fertility, Wilson bound
    "sources.warc",          # WARC record parse
    "tables.scd",            # scd2_merge
})


def _modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(path: Path, name: str, mods: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports anywhere (function-local too),
    with every enclosing package of each."""
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = name.split(".")
                base = base if is_pkg else base[:-1]
                base = base[:len(base) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in mods:
                    found.add(prefix)
    return found


def _graph() -> tuple[dict[str, Path], dict[str, set[str]]]:
    mods = _modules()
    return mods, {m: _imports(p, m, mods) for m, p in mods.items()}


def _reachable(mods, edges) -> set[str]:
    roots = {f"{PKG}.{r}" for r in ROOTS}
    for d in SCRIPT_DIRS:
        for script in (ROOT / d).glob("*.py"):
            roots |= _imports(script, script.stem, mods)
    seen, stack = set(), list(roots)
    while stack:
        m = stack.pop()
        if m not in seen:
            seen.add(m)
            stack.extend(edges[m])
    return seen


def test_every_module_is_reached_from_the_crawl():
    mods, edges = _graph()
    reached = _reachable(mods, edges)
    board = {f"{PKG}.{b}" for b in BOARD}
    pinned = {f"{PKG}.{m}" for m in PINNED_BY_TESTS}
    stray = set(mods) - reached - board - pinned
    assert not stray, f"modules nothing in the crawl imports: {sorted(stray)}"
    assert pinned <= set(mods), sorted(pinned - set(mods))
    assert not pinned & reached, (
        "reached from the crawl; drop from PINNED_BY_TESTS: "
        f"{sorted(pinned & reached)}")


def test_board_checks_only_crawl_modules():
    mods, edges = _graph()
    reached = _reachable(mods, edges)
    board = {f"{PKG}.{b}" for b in BOARD}
    for b in board:
        outside = edges[b] - reached - board
        assert not outside, f"{b} imports {sorted(outside)}"


def test_one_oracle_per_query():
    tree = ast.parse((ROOT / PKG / "queries.py").read_text())
    names = []
    for node in ast.walk(tree):
        for dec in getattr(node, "decorator_list", ()):
            if (isinstance(dec, ast.Call) and isinstance(dec.func, ast.Name)
                    and dec.func.id == "q"):
                name = dec.args[0].value
                oracle = (dec.args[1] if len(dec.args) > 1 else
                          next((k.value for k in dec.keywords
                                if k.arg == "oracle"), None))
                assert oracle is not None and not (
                    isinstance(oracle, ast.Constant)
                    and oracle.value is None), f"{name} has no oracle"
                names.append(name)
    assert names and len(names) == len(set(names))
