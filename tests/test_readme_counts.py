"""README "By the numbers" block must match the artifacts exactly.

The manually-maintained counts trailed the committed tree three rounds
running (VERDICT r5/r6/r7); this makes the drift a test failure instead
of a judge finding. No Spark session needed.
"""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _claims() -> dict[str, int]:
    text = (REPO / "README.md").read_text()
    block = re.search(r"## By the numbers\n(.*?)\n## ", text, re.S)
    assert block, "README must keep the '## By the numbers' section"
    body = block.group(1)
    pats = {
        "queries": r"registered queries: \*\*(\d+)\*\*",
        "oracles": r"oracle-paired: \*\*(\d+)\*\*",
        "headline": r"HEADLINE\): \*\*(\d+)\*\*",
        "tests": r"pytest cases collected: \*\*(\d+)\*\*",
    }
    out = {}
    for key, pat in pats.items():
        m = re.search(pat, body)
        assert m, f"README numbers block missing the {key} line"
        out[key] = int(m.group(1))
    return out


def test_readme_query_and_oracle_counts():
    from mapreduce_weather_analysis_spark.plans.registry import (
        REGISTRY,
        _import_plans,
        all_oracles,
    )

    _import_plans()
    claims = _claims()
    assert claims["queries"] == len(REGISTRY), (
        f"README claims {claims['queries']} queries, "
        f"registry has {len(REGISTRY)}"
    )
    assert claims["oracles"] == len(all_oracles()), (
        f"README claims {claims['oracles']} oracle-paired, "
        f"registry has {len(all_oracles())}"
    )


def test_readme_bench_headline_count():
    sys.path.insert(0, str(REPO))
    import bench

    claims = _claims()
    assert claims["headline"] == len(bench.HEADLINE), (
        f"README claims {claims['headline']} headline queries, "
        f"bench.py has {len(bench.HEADLINE)}"
    )


def test_readme_collected_test_count():
    """Collect-only run (~2 s, no Spark) vs the README claim."""
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    m = re.search(r"(\d+) tests collected", proc.stdout)
    assert m, f"could not parse collect-only output:\n{proc.stdout[-2000:]}"
    collected = int(m.group(1))
    claims = _claims()
    assert claims["tests"] == collected, (
        f"README claims {claims['tests']} collected tests, "
        f"pytest collects {collected}"
    )


def test_readme_no_inline_query_counts_outside_block():
    """No inline query-count or wall-over-N-queries literal may appear in
    the CURRENT sections of the README (everything before the historical
    '### Earlier rounds' archive) outside the enforced 'By the numbers'
    block — VERDICT r8 #3's recurring drift class ("233.9 s over 144
    queries" went stale the moment three more queries landed). Current
    prose must cite the block or the BENCH_r{N}.json artifact instead of
    repeating numbers the count tests can't see."""
    text = (REPO / "README.md").read_text()
    cut = text.find("### Earlier rounds")
    assert cut != -1, "README must keep the '### Earlier rounds' archive"
    current = text[:cut]
    block = re.search(r"## By the numbers\n.*?\n## ", current, re.S)
    assert block
    current = current[: block.start()] + current[block.end():]
    offenders = re.findall(
        r"[^\n]*(?:\b\d+[- ]quer|\d[\d.]* s over \d)[^\n]*", current
    )
    assert not offenders, (
        "inline query-count literals outside the enforced block "
        f"(cite 'By the numbers' or BENCH_r{{N}}.json instead): {offenders}"
    )


def test_master_table_loader_rejects_bad_rows():
    """bench.py reads its gated query set from BASELINE.md's master
    table, so the loader must refuse a row it cannot parse or a name the
    registry does not know (both at import, before any Spark session),
    and the ground-truth tier must stay off the timed wall."""
    import pytest

    sys.path.insert(0, str(REPO))
    import bench

    head = "## Master baseline table\n\n| query | baseline_s | drain_s |\n"
    head += "|---|---|---|\n"
    wall, drain, names = bench._read_master_table(
        head + "| q_max_month | 3.4 |  |\n| q_stream_ks_drift | 0.6 | 0.23 |\n"
        "\n## Next section\n| q_not_a_query | 1.0 |  |\n"
    )
    assert wall == {"q_max_month": 3.4, "q_stream_ks_drift": 0.6}
    assert drain == {"q_stream_ks_drift": 0.23}
    assert names == ["q_max_month", "q_stream_ks_drift"]
    with pytest.raises(ValueError, match="malformed"):
        bench._read_master_table(head + "| q_max_month | 3.4 s |  |\n")
    with pytest.raises(ValueError, match="not registered"):
        bench._read_master_table(head + "| q_not_a_query | 1.0 |  |\n")

    reg = bench.REGISTRY
    gt = {n for n in reg if reg[n].scale_tier == "ground-truth"}
    assert bench.GROUND_TRUTH and set(bench.GROUND_TRUTH) <= gt
    assert not set(bench.HEADLINE) & gt
    assert len(bench.HEADLINE) + len(bench.GROUND_TRUTH) == len(
        bench.BASELINE_SEC.keys() | bench.STREAM_DRAIN_SEC.keys()
    )
