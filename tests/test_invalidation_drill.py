"""Standing-index invalidation DRILL (VERDICT r11 ask #6): the
fingerprint story (corpus stat + build-constant signatures folded into
every index path) is unit-tested per store, but this exercises it as a
SCENARIO across all three store families at once — mutate the fixture,
then assert every dependent artifact re-keys, rebuilds, and serves the
NEW corpus; mutate a build constant, and assert every path re-keys
without anyone bumping a layout version. The failure mode being drilled
is the one the lexseg pred_tag fix (round 10) actually hit: a
marker-idempotent artifact serving stale content because its cache key
under-described its inputs."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from .conftest import SMOKE_SF

_DUP_A = "the quick brown fox jumps over the lazy dog again and again today"
_DUP_B = "the quick brown fox jumps over the lazy dog again and again tonight"


def _copy_fixture(tmp_path) -> str:
    sf = tmp_path / "drill_sf"
    sf.mkdir()
    for name in ("documents", "embeddings"):
        shutil.copy(
            os.path.join(SMOKE_SF, f"{name}.parquet"),
            sf / f"{name}.parquet",
        )
    return str(sf)


def _append_rows(path: str, extra: pa.Table) -> None:
    base = pq.read_table(path)
    pq.write_table(
        pa.concat_tables([base, extra.cast(base.schema)]), path
    )


def test_fixture_change_invalidates_every_standing_index(spark, tmp_path):
    """Corpus mutation drill: LSH band index, lexical postings (+ one
    split segment), and the IVFPQ embedding index must all re-key on a
    documents/embeddings rewrite, rebuild at the new key, and serve the
    post-mutation corpus — no stale marker may answer."""
    from pyspark.sql import functions as F

    from mapreduce_weather_analysis_spark.operators.ann_store import (
        ivfpq_index_path,
        ivfpq_write,
    )
    from mapreduce_weather_analysis_spark.operators.lexical_store import (
        lexical_index_path,
        lexical_segment_path,
        lexical_segment_write,
        lexical_write,
    )
    from mapreduce_weather_analysis_spark.operators.lsh_store import (
        lsh_index_path,
        lsh_search,
        lsh_write,
    )
    from mapreduce_weather_analysis_spark.sources.tables import load_table

    sf = _copy_fixture(tmp_path)
    docs = load_table(spark, sf, "documents")
    seg_pred = F.col("doc_id") % 2 == 0
    seg_tag = "doc_id%2=0"

    p_lsh1 = lsh_write(spark, sf, docs)
    p_lex1 = lexical_write(spark, sf)
    p_seg1 = lexical_segment_write(spark, sf, "segA", seg_pred, seg_tag)
    p_ann1 = ivfpq_write(spark, sf)
    for p in (p_lsh1, p_lex1, p_seg1, p_ann1):
        assert os.path.exists(os.path.join(p, "_INDEX_COMPLETE")), p
    # warm call returns the same artifact (marker idempotence)
    assert lsh_write(spark, sf, docs) == p_lsh1
    assert ivfpq_write(spark, sf) == p_ann1

    # the standing index does NOT know the planted pair yet
    qdocs = spark.createDataFrame(
        [(900001, _DUP_A)], "doc_id long, text string"
    )
    pre = lsh_search(spark, p_lsh1, qdocs).collect()
    assert all(r.match_id != 900002 for r in pre)

    # --- mutate the corpus: plant a near-dup pair + two new vectors ---
    _append_rows(
        os.path.join(sf, "documents.parquet"),
        pa.table(
            {
                "doc_id": [900001, 900002],
                "text": [_DUP_A, _DUP_B],
                "lang": ["en", "en"],
                "source": ["drill", "drill"],
                "n_chars": [len(_DUP_A), len(_DUP_B)],
            }
        ),
    )
    dim = len(
        pq.read_table(os.path.join(sf, "embeddings.parquet"))
        .column("embedding")[0]
        .as_py()
    )
    _append_rows(
        os.path.join(sf, "embeddings.parquet"),
        pa.table(
            {
                "vec_id": [900001, 900002],
                "embedding": [[0.5] * dim, [0.25] * dim],
                "label": [0, 1],
            }
        ),
    )

    # every path fn re-keys: the old markers exist but are never consulted
    p_lsh2 = lsh_index_path(sf)
    p_lex2 = lexical_index_path(sf)
    p_seg2 = lexical_segment_path(sf, "segA", seg_tag)
    p_ann2 = ivfpq_index_path(sf)
    assert p_lsh2 != p_lsh1
    assert p_lex2 != p_lex1
    assert p_seg2 != p_seg1
    assert p_ann2 != p_ann1
    for p in (p_lsh2, p_lex2, p_seg2, p_ann2):
        assert not os.path.exists(os.path.join(p, "_INDEX_COMPLETE")), (
            f"stale marker pre-exists at the new key: {p}"
        )

    # rebuild lands at the new key and SERVES the mutated corpus
    docs2 = load_table(spark, sf, "documents")
    assert lsh_write(spark, sf, docs2) == p_lsh2
    assert lexical_write(spark, sf) == p_lex2
    assert lexical_segment_write(spark, sf, "segA", seg_pred, seg_tag) == p_seg2
    assert ivfpq_write(spark, sf) == p_ann2
    post = lsh_search(spark, p_lsh2, qdocs).collect()
    assert any(r.match_id == 900002 for r in post), (
        "rebuilt LSH index does not serve the planted post-mutation pair"
    )
    # the new embedding rows reached the rebuilt ANN lists
    n_vecs = (
        spark.read.parquet(os.path.join(p_ann2, "vecs"))
        .where(F.col("vec_id").isin(900001, 900002))
        .count()
    )
    assert n_vecs == 2


def test_constant_change_rekeys_every_store(tmp_path, monkeypatch):
    """Build-constant mutation drill: every signature constant a store
    folds into its fingerprint must move the path on change — no layout
    bump, no human memory involved. Pure path arithmetic (no Spark)."""
    import mapreduce_weather_analysis_spark.operators.ann_store as ann_store
    import mapreduce_weather_analysis_spark.operators.ivf as ivf
    import mapreduce_weather_analysis_spark.operators.lexical_store as lex
    import mapreduce_weather_analysis_spark.operators.lsh_store as lsh
    import mapreduce_weather_analysis_spark.plans.text_suite as text_suite

    sf = _copy_fixture(tmp_path)
    before = {
        "lsh": lsh.lsh_index_path(sf),
        "lex": lex.lexical_index_path(sf),
        "seg": lex.lexical_segment_path(sf, "segA", "doc_id%2=0"),
        "ivfpq": ann_store.ivfpq_index_path(sf),
        "chunkvec": ann_store.chunkvec_index_path(sf),
    }
    # the segment key must also move on the PREDICATE alone (the round-10
    # pred_tag regression this drill descends from)
    assert (
        lex.lexical_segment_path(sf, "segA", "doc_id%2=1") != before["seg"]
    )

    monkeypatch.setattr(lsh, "LSH_BANDS", lsh.LSH_BANDS + 1)
    monkeypatch.setattr(lex, "_TERM_BUCKETS", lex._TERM_BUCKETS * 2)
    monkeypatch.setattr(ivf, "IVF_ITERS", ivf.IVF_ITERS + 1)
    monkeypatch.setattr(text_suite, "_CHUNK_STRIDE", text_suite._CHUNK_STRIDE + 1)
    after = {
        "lsh": lsh.lsh_index_path(sf),
        "lex": lex.lexical_index_path(sf),
        "seg": lex.lexical_segment_path(sf, "segA", "doc_id%2=0"),
        "ivfpq": ann_store.ivfpq_index_path(sf),
        "chunkvec": ann_store.chunkvec_index_path(sf),
    }
    moved = {k for k in before if before[k] != after[k]}
    assert moved == set(before), (
        f"constant change did not re-key: {set(before) - moved}"
    )


def test_unchanged_fixture_never_rebuilds(spark, tmp_path):
    """The cost half of the idempotence contract: with the fixture
    untouched, a second write call must be a pure marker hit — same
    path AND no artifact file rewritten (mtimes frozen). A rebuild-on-
    warm regression would silently multiply every serve's cost by the
    build and never fail a correctness check."""
    import time

    from mapreduce_weather_analysis_spark.operators.ann_store import (
        ivfpq_write,
    )
    from mapreduce_weather_analysis_spark.operators.lexical_store import (
        lexical_write,
    )
    from mapreduce_weather_analysis_spark.operators.lsh_store import lsh_write
    from mapreduce_weather_analysis_spark.sources.tables import load_table

    sf = _copy_fixture(tmp_path)
    docs = load_table(spark, sf, "documents")
    paths = {
        "lsh": lsh_write(spark, sf, docs),
        "lex": lexical_write(spark, sf),
        "ivfpq": ivfpq_write(spark, sf),
    }

    def _snapshot(root: str) -> dict[str, int]:
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    before = {k: _snapshot(p) for k, p in paths.items()}
    time.sleep(0.01)  # any rewrite lands a strictly newer mtime
    assert lsh_write(spark, sf, docs) == paths["lsh"]
    assert lexical_write(spark, sf) == paths["lex"]
    assert ivfpq_write(spark, sf) == paths["ivfpq"]
    for k, p in paths.items():
        assert _snapshot(p) == before[k], f"{k} artifact rewritten on warm call"


def test_relation_memo_sees_nested_part_files(spark, tmp_path):
    """The relation-handle memo must not serve a stale file listing for a
    parquet DIRECTORY: a part file added inside an existing partition
    directory leaves the top-level directory's own stat unchanged, so the
    key has to cover every file under it. A changed input also replaces
    its memo entry rather than adding one beside it."""
    from mapreduce_weather_analysis_spark.sources.tables import (
        _RELATION_CACHE,
        load_table,
    )

    sf = tmp_path / "memo_sf"
    part = sf / "t.parquet" / "k=1"
    part.mkdir(parents=True)
    rows = pa.table({"v": list(range(10))})
    pq.write_table(rows, part / "part-0.parquet")
    assert load_table(spark, str(sf), "t").count() == 10
    assert load_table(spark, str(sf), "t") is load_table(spark, str(sf), "t")

    pq.write_table(rows, part / "part-1.parquet")
    assert load_table(spark, str(sf), "t").count() == 20
    memo = _RELATION_CACHE[spark]
    assert sum(1 for p in memo if p.startswith(str(sf))) == 1


def test_index_paths_see_every_file_of_a_directory_input(tmp_path):
    """Spark-free: a directory-form ``documents.parquet`` / ``embeddings.parquet``
    whose part file is rewritten in place, or gains a sibling part file,
    keeps the top-level directory's own stat, so every standing-index path
    must key on the files under it or a stale index is served."""
    from mapreduce_weather_analysis_spark.operators import (
        ann_store,
        lexical_store,
        lsh_store,
    )

    sf = tmp_path / "dir_sf"
    for name in ("documents", "embeddings"):
        part = sf / f"{name}.parquet" / "k=0"
        part.mkdir(parents=True)
        (part / "part-0.parquet").write_bytes(b"v0")

    def paths() -> dict[str, str]:
        s = str(sf)
        return {
            "ivfpq": ann_store.ivfpq_index_path(s),
            "imi": ann_store.imi_index_path(s),
            "docvec": ann_store.docvec_index_path(s),
            "chunkvec": ann_store.chunkvec_index_path(s),
            "abtt": ann_store.abtt_index_path(s),
            "binary": ann_store.binary_index_path(s),
            "binary_cells": ann_store.binary_cells_index_path(s),
            "lsh": lsh_store.lsh_index_path(s),
            "lexical": lexical_store.lexical_index_path(s),
            "lexseg": lexical_store.lexical_segment_path(s, "base", "all"),
        }

    first = paths()
    assert paths() == first  # an unchanged input keeps every path
    for name in ("documents", "embeddings"):
        f = sf / f"{name}.parquet" / "k=0" / "part-0.parquet"
        f.write_bytes(b"v1-rewritten")
        os.utime(f, ns=(f.stat().st_atime_ns, f.stat().st_mtime_ns + 10**9))
    rewritten = paths()
    for k in first:
        assert rewritten[k] != first[k], f"{k} path ignores a rewritten part file"
    for name in ("documents", "embeddings"):
        (sf / f"{name}.parquet" / "k=0" / "part-1.parquet").write_bytes(b"v0")
    added = paths()
    for k in first:
        assert added[k] != rewritten[k], f"{k} path ignores an added part file"
