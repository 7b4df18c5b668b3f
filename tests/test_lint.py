"""Source-hygiene gates (no Spark session needed).

These exist because pytest cannot catch a redefined test function:
the second ``def test_x`` silently shadows the first at module level
and the first never runs (round-2 post-mortem: the stronger
``test_foreach_row_sink`` exactness check was dead for a full round).
"""

import ast
import pathlib

TESTS = pathlib.Path(__file__).parent
PKG = TESTS.parent / "spark_streaming_join_example_spark"


def _top_level_defs(path):
    tree = ast.parse(path.read_text())
    return [
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]


def test_no_duplicate_toplevel_names_in_tests():
    """F811 gate: a duplicated top-level def/class in a test module
    means a silently-dead test."""
    offenders = {}
    for path in sorted(TESTS.glob("test_*.py")):
        names = _top_level_defs(path)
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            offenders[path.name] = dupes
    assert not offenders, f"shadowed top-level names: {offenders}"


def test_no_duplicate_toplevel_names_in_package():
    """Same gate for the package: a redefined operator/query builder
    would silently replace its namesake."""
    offenders = {}
    for path in sorted(PKG.rglob("*.py")):
        names = _top_level_defs(path)
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            offenders[str(path.relative_to(PKG))] = dupes
    assert not offenders, f"shadowed top-level names: {offenders}"


def test_no_row_udf_outside_f1_surface():
    """Row-at-a-time ``F.udf`` is the slow path; the only sanctioned
    uses are the deliberate F1 surface demos in plans/udf_queries.py
    (which document their built-in twins).  Everything else must be
    JVM built-ins or Arrow-batched pandas UDFs."""
    allowed = {
        "plans/udf_queries.py",
        "plans/round16.py",
        "plans/round18.py",
        "plans/round20.py",  # q_udf_bitcount — F1 is the operator under test
        "plans/round21.py",  # q_udf_reverse — F1 is the operator under test
        "plans/round22.py",  # q_udf_vowels — F1 is the operator under test
    }
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel in allowed:
            continue
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                fn = node.func
                # match F.udf(...) / functions.udf(...) / udf(...)
                name = (
                    fn.attr
                    if isinstance(fn, ast.Attribute)
                    else fn.id
                    if isinstance(fn, ast.Name)
                    else None
                )
                if name == "udf":
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"row-at-a-time udf outside F1 surface: {offenders}"


def test_no_collect_in_query_definitions():
    """Registered queries must return LAZY DataFrames — the driver
    collects.  A .collect()/.toPandas() inside plans/ would hide a
    driver-side materialization from every plan audit.  Bounded
    coordination collects live only in the sanctioned operator files
    (graph/clustering/similarity loops, each documented at the site).
    """
    allowed = {"registry.py"}  # no data modules are exempt
    offenders = []
    for path in sorted((PKG / "plans").glob("*.py")):
        if path.name in allowed:
            continue
        src = path.read_text()
        for pat in (".collect()", ".toPandas()", ".toLocalIterator()"):
            if pat in src:
                offenders.append(f"{path.name}: {pat}")
    assert not offenders, offenders


def test_no_edge_cardinality_broadcast_markers():
    """Broadcasting a relation whose size scales with the DATA (edge
    lists, pair lists, fact tables — round 5's triangle-count fix; or
    NODE-cardinality rank/degree/label/contribution tables — round
    6's pagerank/assortativity fix) is the single-node shortcut that
    OOMs at true scale.  Guard the known names: any new
    `F.broadcast(<data-cardinality name>)` in plans/ or operators/
    must come with an explicit `# bounded:` comment on the same line
    explaining why its cardinality is bounded."""
    import re

    offenders = []
    pat = re.compile(
        r"F\.broadcast\((e\d?|edges|pairs|wedge|tri|baskets|co"
        r"|r|deg|degs|du|dv|labels|contrib|ranks|nodes|frontier)\b"
    )
    for path in sorted(list((PKG / "plans").glob("*.py")) + list((PKG / "operators").glob("*.py"))):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if pat.search(line) and "# bounded:" not in line:
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_cited_tools_exist():
    """A ``tools/<name>.py`` path cited in the engine, the tests, the
    bench, the README or the verify recipe names a script that exists:
    a deleted probe's verdict is cited by the doc section that holds
    it, not by the script."""
    import re

    repo = TESTS.parent
    sources = [*PKG.rglob("*.py"), *PKG.rglob("*.md"), *TESTS.glob("*.py")]
    sources += [repo / "bench.py", repo / "README.md", repo / ".claude/skills/verify/SKILL.md"]
    cited = {
        (str(path.relative_to(repo)), m)
        for path in sources
        if path.exists()
        for m in re.findall(r"tools/\w+\.py", path.read_text())
    }
    missing = sorted(f"{src}: {tool}" for src, tool in cited if not (repo / tool).exists())
    assert not missing, missing
