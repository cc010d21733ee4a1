"""HARMONY_CACHE_TABLES=1 (the bench's warm-input mode) must be a pure
performance knob: identical rows to the bare-scan path, one materialized
copy per (session, sf_dir, table), and an InMemoryTableScan in the plan.
The same holds for the shared builds behind ``io.shared_build``: the flag
only decides whether a build is kept for reuse, so every consumer gives
the same result with the memo off, on (build) and on again (hit).
"""

import os

import pytest
from test_oracle_queries import _hash_rows, oracle  # noqa: F401 (fixture)

from harmony_spark import io as hio
from harmony_spark.registry import load_all


def _drop_table_cache():
    # unpersist this session's entries so later tests see a cold session
    for key, df in list(hio._TABLE_CACHE.items()):
        df.unpersist()
        del hio._TABLE_CACHE[key]


@pytest.fixture()
def cache_env(monkeypatch):
    monkeypatch.setenv("HARMONY_CACHE_TABLES", "1")
    monkeypatch.setattr(hio, "_DERIVED_MEMO", {})
    yield
    _drop_table_cache()


SF = "/root/testdata/sf0.001"


def test_cached_rows_match_bare_scan(spark, cache_env):
    cached = hio.table(spark, SF, "orders")
    assert "InMemoryTableScan" in cached._jdf.queryExecution().executedPlan().toString()
    got = sorted(tuple(r) for r in cached.collect())
    os.environ.pop("HARMONY_CACHE_TABLES")
    bare = hio.table(spark, SF, "orders")
    assert "InMemoryTableScan" not in bare._jdf.queryExecution().executedPlan().toString()
    assert got == sorted(tuple(r) for r in bare.collect())


def test_cache_is_per_table_singleton(spark, cache_env):
    a = hio.table(spark, SF, "customer")
    b = hio.table_parallel(spark, SF, "customer")
    assert a is b  # table and table_parallel share one cached copy


def test_cached_events_ts_normalized(spark, cache_env):
    ev = hio.table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0


# One consumer per shared build; together they reach every build.
MEMO_CONSUMERS = (
    "q97_dedup_pipeline",  # lsh_pairs
    "q117_leakage_free_split",  # lsh_cc
    "q89_prefix_similarity_join",  # q89_pairs
    "q225_pagerank",  # copurchase, copurchase_sym
    "q292_triangle_count",  # copurchase_deg/_oriented/_tri_edges
    "q274_hits_bipartite",  # custpart_bp, custpart_bp_flat
    "q282_recsys_holdout_eval",  # custpart_bp
    "q101_pq_topk",  # pq_index (rows-only)
    "q121_bm25_scores",  # bm25_table
    "q167_entity_resolution",  # doc_entities
    "q219_spearman_rho",  # q219_xdf
)


def _result_hash(df) -> str:
    cols = sorted(df.columns)
    return _hash_rows(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def memo_runs(spark, sf_dir):
    """Each consumer with the memo off, then on twice (build, then hit):
    ``{name: (hashes, second_run_built_nothing)}`` and the build names
    left in the memo."""
    specs = load_all()
    runs = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(hio, "_DERIVED_MEMO", {})
        for name in MEMO_CONSUMERS:
            mp.delenv("HARMONY_CACHE_TABLES", raising=False)
            hashes = [_result_hash(specs[name].fn(spark, sf_dir))]
            mp.setenv("HARMONY_CACHE_TABLES", "1")
            hashes.append(_result_hash(specs[name].fn(spark, sf_dir)))
            built = set(hio._DERIVED_MEMO)
            hashes.append(_result_hash(specs[name].fn(spark, sf_dir)))
            runs[name] = (hashes, set(hio._DERIVED_MEMO) == built)
        names = {k[1] for k in hio._DERIVED_MEMO}
        _drop_table_cache()
    return runs, names


@pytest.mark.parametrize("name", MEMO_CONSUMERS)
def test_memo_on_matches_memo_off(name, memo_runs, oracle):  # noqa: F811
    (off, build, hit), hit_built_nothing = memo_runs[0][name]
    assert off == build == hit, name
    assert hit_built_nothing, f"{name}: the second memo-on run built again"
    spec = load_all()[name]
    if spec.oracle is not None:
        ores = oracle.sql(spec.oracle)
        cols = sorted(ores.columns)
        idx = [ores.columns.index(c) for c in cols]
        assert off == _hash_rows(tuple(r[i] for i in idx) for r in ores.fetchall())


def test_every_shared_build_has_a_memo_consumer(memo_runs):
    """A new shared build without a consumer in MEMO_CONSUMERS fails."""
    assert set(hio.SHARED_BUILDS) - memo_runs[1] == set()


def test_shared_build_key_normalizes_sf(spark, cache_env):
    """Two spellings of one directory are one build."""
    q219 = load_all()["q219_spearman_rho"].fn
    a = sorted(tuple(r) for r in q219(spark, SF).collect())
    b = sorted(tuple(r) for r in q219(spark, SF + "/").collect())
    assert a == b
    assert [k[1] for k in hio._DERIVED_MEMO].count("q219_xdf") == 1


def test_shared_build_key_applies_defaults(monkeypatch):
    """Positional, keyword and defaulted spellings of one call share a
    key, and the build reaches io.session_memo as patched at call time."""
    keys = []
    monkeypatch.setattr(hio, "SHARED_BUILDS", {})
    monkeypatch.setattr(hio, "session_memo", lambda spark, key, build: keys.append(key))

    @hio.shared_build("probe")
    def probe(spark, sf, src="src", n=2):
        return None

    probe(None, SF)
    probe(None, SF + "/", "src", n=2)
    probe(None, SF, src="src")
    assert keys == [("probe", SF, "src", 2)] * 3
    assert hio.SHARED_BUILDS == {"probe": probe}
