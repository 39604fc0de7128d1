"""Driver-surface schema contract: no queries() entry may return an
array/map/struct-typed column.

The driver canonicalizes results with pandas ``sort_values`` before
hashing; list- or dict-valued cells raise ``TypeError: unhashable
type`` inside pandas' lexsort (this produced the only red driver row
in round 6, ``inverted_index_postings``, whose values were correct).
Complex types are fine as intermediates — only the FINAL schema of a
``queries()`` entry is constrained. Serialize with ``array_join`` /
``to_json`` at the tail of the plan instead.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

_QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_no_complex_output_columns(name, spark):
    df = _QUERIES[name](spark, SF_DIR)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name} returns complex-typed column(s) {bad}; the driver's "
        "pandas canonicalizer cannot hash list/dict cells — serialize "
        "to a string at the tail of the plan"
    )


def test_rows_only_entries_name_a_live_oracled_twin():
    """Every queries() entry WITHOUT an oracle_sql() twin (the
    engine-hash variants) must name its FULL-oracle portable twin in
    its docstring ('Oracled twin: <name>'), and that twin must still
    exist with an oracle — so a future change that drops or renames
    the pairing fails loudly instead of silently weakening the
    rows-only entries to unchecked coverage (VERDICT r8 item 10)."""
    import re

    oracles = entrymod.oracle_sql()
    rows_only = sorted(set(_QUERIES) - set(oracles))
    for name in rows_only:
        doc = _QUERIES[name].__doc__ or ""
        m = re.search(r"Oracled twin:\s*([A-Za-z0-9_]+)", doc)
        assert m, (
            f"rows-only entry {name!r} does not name its oracled twin "
            "in the docstring ('Oracled twin: <name>')"
        )
        twin = m.group(1)
        assert twin in _QUERIES, (name, twin, "twin not registered")
        assert twin in oracles, (name, twin, "twin has no oracle")


def test_documented_totals_match_registered_dicts():
    """SURVEY.md / README.md prose totals must equal the ACTUAL
    len(queries()) / len(oracle_sql()) — round 10 documented 190/186
    while the dicts held 189/185 (a counting slip the judge flagged,
    VERDICT r10). The prose cites totals as 'N `queries()` entries'
    and 'M ... full DuckDB oracles' in the SURVEY tail and
    'M of N have an ANSI-SQL twin' in the README; this test greps the
    LAST such claim in each file so the numbers can never drift from
    the registry again."""
    import pathlib
    import re

    nq, no = len(_QUERIES), len(entrymod.oracle_sql())
    root = pathlib.Path(__file__).resolve().parent.parent

    survey = (root / "SURVEY.md").read_text()
    m = re.findall(
        r"(\d+)\s+`queries\(\)`\s+entries,\s+(\d+)", survey
    )
    assert m, "SURVEY.md no longer states registered totals"
    assert tuple(map(int, m[-1])) == (nq, no), (
        f"SURVEY.md tail claims {m[-1]} but the registry holds "
        f"({nq}, {no}) — update the prose"
    )

    readme = (root / "README.md").read_text()
    m2 = re.findall(r"(\d+)\s+of\s+(\d+)\s+have an ANSI-SQL twin", readme)
    assert m2, "README.md no longer states registered totals"
    assert tuple(map(int, m2[-1])) == (no, nq), (
        f"README.md claims {m2[-1]} but the registry holds "
        f"({no}, {nq}) — update the prose"
    )


def test_documented_bench_claim_matches_committed_artifact():
    """VERDICT r11 item 6 (bench-claim drift): the LAST 'N headline
    queries, X s warm' claim in SURVEY.md must cite a COMMITTED
    detail artifact and equal it exactly — r11 prose cited a better
    uncommitted quiet run (153.1 s) while the committed artifact
    recorded 162.476 s. The cited file must be round-stamped
    (``BENCH_DETAIL_rNN.json``): bench.py rewrites BENCH_DETAIL.json
    on every run, which is how r14's claim drifted. Claim a number,
    commit its artifact under a name nothing overwrites."""
    import json
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    survey = (root / "SURVEY.md").read_text()
    m = re.findall(
        r"(\d+) headline queries,\s+\**(\d+\.\d+)\s*s warm\**"
        r"(?:\s*\(`([^`]+)`)?",
        survey,
    )
    assert m, "SURVEY.md no longer states a bench warm claim"
    claimed_n, claimed_total, cited = int(m[-1][0]), float(m[-1][1]), m[-1][2]
    assert re.fullmatch(r"BENCH_DETAIL_r\d+\.json", cited), (
        f"SURVEY.md's last bench claim {m[-1][:2]} must cite its "
        "round-stamped detail file as (`BENCH_DETAIL_rNN.json`)"
    )
    detail = json.loads((root / cited).read_text())
    n = len(detail["queries_warm"])
    total = round(sum(detail["queries_warm"].values()), 1)
    assert (claimed_n, claimed_total) == (n, total), (
        f"SURVEY.md tail claims {m[-1][:2]} but the committed "
        f"{cited} records ({n}, {total}) — update BOTH together"
    )
