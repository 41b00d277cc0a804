"""The one session builder (osmquadtree_spark.session) and the session
memos queries.clear_session_caches empties."""

from types import SimpleNamespace

from osmquadtree_spark import queries as Q
from osmquadtree_spark import session

GiB = 1 << 30


def test_fit_scales_heap_with_core_share_within_bounds():
    # 4 of 4 cores on 16 GiB: a quarter of memory, two partitions a slot
    assert session.fit(4, 16 * GiB, 4) == (4 * GiB, 8)
    # 1 of 64 cores on 8 GiB: 32 MiB by share, raised to the 1 GiB floor
    assert session.fit(1, 8 * GiB, 64) == (GiB, 2)
    # 64 of 64 cores on 1 TiB: 256 GiB by share, cut to the 16 GiB cap
    assert session.fit(64, 1024 * GiB, 64) == (16 * GiB, 128)
    # slots beyond the host's cores do not add memory
    assert session.fit(8, 16 * GiB, 4)[0] == 4 * GiB


def test_conftest_session_is_host_fitted(spark):
    shape = session.describe(spark)
    assert shape["master"] == "local[4]"
    assert shape["parallelism"] == 4
    assert shape["shuffle_partitions"] == "8"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_clear_session_caches_empties_every_memo_but_kept_input_stores():
    calls = []

    @Q._session_memo()
    def derived(spark, sf_dir):
        calls.append(("derived", sf_dir))
        return len(calls)

    @Q._session_memo(input_store=True)
    def source(spark, sf_dir):
        calls.append(("source", sf_dir))
        return len(calls)

    s = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-1"))
    assert derived(s, "a") == derived(s, "a") == 1
    assert source(s, "a") == source(s, "a") == 2
    assert derived(s, "b") == 3  # keyed on sf_dir too

    Q.clear_session_caches(keep_input_stores=True)
    assert derived(s, "a") == 4  # recomputed
    assert source(s, "a") == 2  # the input store survived

    Q.clear_session_caches()
    assert source(s, "a") == 5
    assert derived(s, "a") == 6
