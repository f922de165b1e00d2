"""Named-query registry: the single source of truth for the driver contract.

Every implemented operator (SURVEY.md §2 + extensions) registers here as a
(name, spark_fn, oracle_sql) triple. ``__spark_entry__.queries()`` /
``oracle_sql()`` and the local pytest oracle harness all read this registry,
so an operator is "done" exactly when it has an entry (and tests pass).

Oracle SQL is ANSI SQL runnable by DuckDB over the same parquet tables
(pre-registered views). Queries whose semantics SQL can't express
(e.g. true streaming) register with ``oracle=None`` → the driver records a
weaker rows-only check.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..session import ensure_session_conf
from ..sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None → rows-only check
    doc: str = ""
    # the undecorated source fn — _resync_docs reads its (possibly
    # post-decoration .format()-ed) __doc__ after all modules imported
    src: QueryFn | None = None
    # Scale-posture tier (VERDICT r10 ask #2, widened repo-wide by
    # VERDICT r11 ask #2) — machine-readable so a fast sf0.1 number
    # can't be mistaken for a 100-TB deployment posture. Mandatory
    # (test-enforced) for the ANN serving family AND every serve/pair-
    # class query in the dedup/similarity/lexical/chunk families:
    #   "scale"        bucketed / celled / probe-bounded / df-capped —
    #                  per-query work sublinear in corpus size (or, for
    #                  batch pair jobs, pair work bounded by banding /
    #                  blocking, never all-pairs); the plan you would
    #                  run at 100 TB.
    #   "small-corpus" carries a documented growth term a 100-TB run
    #                  must swap for the tagged sibling: a flat |Q|x|N|
    #                  pair scan, a corpus-sized closure/driver
    #                  artifact, in-query quantizer training a
    #                  deployment would amortize, or a string-keyed
    #                  wide shuffle with a hashed twin. Correct and
    #                  in-gate at sf0.1; fine as a small-corpus plan
    #                  only.
    #   "ground-truth" deliberately-exact quadratic baseline kept as
    #                  the recall/parity oracle for indexed siblings;
    #                  never a serving plan (bench keeps these off the
    #                  wall).
    #   "eval"         index health / recall-measurement output, not a
    #                  serving path at all.
    scale_tier: str | None = None


SCALE_TIERS = ("scale", "small-corpus", "ground-truth", "eval")

REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, scale_tier: str | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the registry."""

    if scale_tier is not None and scale_tier not in SCALE_TIERS:
        raise ValueError(f"unknown scale_tier {scale_tier!r} for {name}")

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        REGISTRY[name] = QuerySpec(
            name,
            wrapped,
            oracle,
            (fn.__doc__ or "").strip(),
            src=fn,
            scale_tier=scale_tier,
        )
        return fn

    return deco


def _resync_docs() -> None:
    """Re-copy each source fn's __doc__ into its spec and wrapper.

    Many modules substitute constants into docstrings AFTER the decorator
    ran (``q_foo.__doc__ = q_foo.__doc__.format(K=_K)`` at module level —
    docstrings must be literals, so the substitution can't happen
    earlier). The decorator copied the doc at decoration time, leaving
    literal ``{K}`` placeholders in the registry/driver-visible text
    (ADVICE r6). Running this after every plan module has fully executed
    makes decoration-time copies equal the final text."""
    from dataclasses import replace

    for name, spec in list(REGISTRY.items()):
        if spec.src is None:
            continue
        doc = (spec.src.__doc__ or "").strip()
        if spec.doc != doc:
            spec.fn.__doc__ = spec.src.__doc__
            REGISTRY[name] = replace(spec, doc=doc)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand fixture-table loader for query bodies."""
    return load_table(spark, sf_dir, name)


# Driver-facing emission order. The correctness driver verifies the first
# names of queries() each round, so the stalest checks lead: names never
# hash-matched first, then the oldest last-green round first, ties in
# registration order. The rounds come from the CORRECTNESS_r*.json rows
# the driver writes at the repo root.
_ROOT = Path(__file__).resolve().parents[2]


def _last_green() -> dict[str, int]:
    """Name -> last round whose CORRECTNESS_r*.json row hash-matched."""
    last: dict[str, int] = {}
    for path in _ROOT.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, row in json.loads(path.read_text()).items():
            if row["hash_match"]:
                last[name] = max(rnd, last.get(name, 0))
    return last


def _ordered_specs() -> list[QuerySpec]:
    _import_plans()
    last = _last_green()
    return sorted(REGISTRY.values(), key=lambda s: last.get(s.name, 0))


def all_queries() -> dict[str, QueryFn]:
    return {spec.name: spec.fn for spec in _ordered_specs()}


def all_oracles() -> dict[str, str]:
    return {
        spec.name: spec.oracle
        for spec in _ordered_specs()
        if spec.oracle is not None
    }


def _import_plans() -> None:
    """Import every module that registers queries (idempotent)."""
    # import order is registration order, which breaks ties in
    # _ordered_specs()
    from . import (  # noqa: F401
        analog,
        relational,
        functions_suite,
        temporal_suite,
        arrays_suite,
        sql_suite,
        tpch_suite,
        pandas_suite,
        udtf_suite,
        events_suite,
        dedup_suite,
        graph_suite,
        similarity_suite,
        text_suite,
        curation_suite,
        multimodal_suite,
        streaming_suite,
        scale_suite,
    )

    # post-import registrations that need the WHOLE registry in view
    # (a module-bottom snapshot can run early: scale_suite is imported
    # mid-streaming_suite by an oracle builder)
    from .scale_suite import _register_tier_map

    _register_tier_map()
    _resync_docs()
