"""Stateful streaming dedup: emits each (docid, triple_key) once across
micro-batches AND across query restarts (state store checkpoint)."""

from pyspark.sql.types import DoubleType, StringType, StructField, StructType

TRIPLES_SCHEMA = StructType(
    [
        StructField("docid", StringType()),
        StructField("triple_key", StringType()),
        StructField("score", DoubleType()),
    ]
)


def _run_phase(spark, src, out, chk, new_rows, ttl_ms=None):
    """Run the dedup query over ``src`` until the ``new_rows`` input rows
    written since the last phase have been read and their batches
    committed, then stop it."""
    import time

    from deepex_spark.streaming.stateful import dedup_new_triples

    stream = (
        spark.readStream.schema(TRIPLES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        dedup_new_triples(stream, ttl_ms=ttl_ms)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(chk))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # with processing-time timers armed, availableNow keeps running no-data
    # batches to service them and never ends by itself. A batch reports
    # its progress after it commits, so stop once the reported input rows
    # cover the new ones; stopping also keeps phases from overlapping.
    deadline = time.monotonic() + 180
    while q.isActive and time.monotonic() < deadline:
        if sum(p["numInputRows"] for p in q.recentProgress) >= new_rows:
            break
        time.sleep(0.05)
    q.stop()
    assert sum(p["numInputRows"] for p in q.recentProgress) == new_rows


def test_stateful_dedup_across_batches_and_restarts(spark, tmp_path):
    src = tmp_path / "in"
    out = tmp_path / "out"
    chk = tmp_path / "chk"
    src.mkdir()

    import pandas as pd

    cols = ["docid", "triple_key", "score"]
    b1 = [("d1", "A [SEP] r [SEP] B", 0.9), ("d1", "A [SEP] r [SEP] C", 0.8),
          ("d2", "X [SEP] r [SEP] Y", 0.7)]
    pd.DataFrame(b1, columns=cols).to_parquet(src / "f1.parquet", index=False)
    _run_phase(spark, src, out, chk, new_rows=3)
    got1 = {(r["docid"], r["triple_key"]) for r in spark.read.parquet(str(out)).collect()}
    assert got1 == {("d1", "A [SEP] r [SEP] B"), ("d1", "A [SEP] r [SEP] C"),
                    ("d2", "X [SEP] r [SEP] Y")}

    # phase 2: new files arrive — one duplicate of d1, one new triple for
    # d1, one new doc. Restarting the query recovers the seen-set from the
    # state store, so the duplicate is NOT re-emitted.
    b2 = [("d1", "A [SEP] r [SEP] B", 0.95),  # dup (different score!)
          ("d1", "A [SEP] r [SEP] D", 0.6),   # new
          ("d3", "P [SEP] r [SEP] Q", 0.5)]   # new doc
    pd.DataFrame(b2, columns=cols).to_parquet(src / "f2.parquet", index=False)
    _run_phase(spark, src, out, chk, new_rows=3)
    rows = spark.read.parquet(str(out)).collect()
    got2 = {(r["docid"], r["triple_key"]) for r in rows}
    assert got2 == got1 | {("d1", "A [SEP] r [SEP] D"), ("d3", "P [SEP] r [SEP] Q")}
    # the duplicate emitted exactly once (phase-1 copy, score 0.9)
    dup = [r for r in rows if r["triple_key"] == "A [SEP] r [SEP] B"]
    assert len(dup) == 1 and abs(dup[0]["score"] - 0.9) < 1e-9


def test_state_ttl_evicts_idle_docid(spark, tmp_path):
    """With ttl_ms set, a docid idle past the TTL is evicted on a later
    micro-batch and its triples re-admit — the documented state-size
    trade-off. (Suppression INSIDE the TTL cannot be asserted across
    streaming phases — micro-batch wall-clock latency exceeds any small
    TTL — so that half lives in the _FakeState unit tests below and the
    no-TTL streaming test above.)"""
    import time

    import pandas as pd

    src = tmp_path / "in"
    out = tmp_path / "out"
    chk = tmp_path / "chk"
    src.mkdir()
    cols = ["docid", "triple_key", "score"]
    ttl = 500

    pd.DataFrame([("d1", "A [SEP] r [SEP] B", 0.9)], columns=cols).to_parquet(
        src / "f1.parquet", index=False
    )
    _run_phase(spark, src, out, chk, new_rows=1, ttl_ms=ttl)
    assert spark.read.parquet(str(out)).count() == 1

    # let d1 go idle past the TTL, then drive a batch for ANOTHER docid so
    # the timeout fires and d1's state is removed...
    time.sleep(3 * ttl / 1000)
    pd.DataFrame([("d2", "X [SEP] r [SEP] Z", 0.6)], columns=cols).to_parquet(
        src / "f2.parquet", index=False
    )
    _run_phase(spark, src, out, chk, new_rows=1, ttl_ms=ttl)

    # ...after which d1's old triple re-admits
    pd.DataFrame([("d1", "A [SEP] r [SEP] B", 0.5)], columns=cols).to_parquet(
        src / "f3.parquet", index=False
    )
    _run_phase(spark, src, out, chk, new_rows=1, ttl_ms=ttl)
    rows = spark.read.parquet(str(out)).collect()
    a_rows = sorted(
        (r["score"] for r in rows if r["triple_key"] == "A [SEP] r [SEP] B")
    )
    assert a_rows == [0.5, 0.9]
    # d2 emitted its single triple exactly once
    assert sum(r["docid"] == "d2" for r in rows) == 1


class _FakeState:
    """Minimal GroupState stub for unit-testing _dedup_fn's state policy."""

    def __init__(self, timed_out=False):
        self.exists = False
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None
        self._val = None

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val = v
        self.exists = True

    def remove(self):
        self._val = None
        self.exists = False
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_ttl_fn_policy_unit():
    """The TTL variant's state policy, deterministic (no wall clock):
    inside the TTL the dedup is unchanged (duplicate suppressed, timer
    re-armed on every update); a timed-out invocation removes state and
    emits nothing; after removal the same triple re-admits."""
    import pandas as pd

    from deepex_spark.streaming.stateful import _make_dedup_fn

    fn = _make_dedup_fn(60_000)
    pdf = pd.DataFrame({"triple_key": ["a", "b"], "score": [0.1, 0.2]})
    st = _FakeState()
    out1 = list(fn(("d",), iter([pdf]), st))
    assert sum(len(o) for o in out1) == 2
    assert st.timeout_set == 60_000  # timer armed on update

    # same batch again, state live: suppressed, timer re-armed
    st.timeout_set = None
    out2 = list(fn(("d",), iter([pdf]), st))
    assert sum(len(o) for o in out2) == 0
    assert st.timeout_set == 60_000

    # timeout invocation: state removed, nothing emitted
    st.hasTimedOut = True
    out3 = list(fn(("d",), iter([]), st))
    assert sum(len(o) for o in out3) == 0
    assert st.removed and not st.exists

    # post-eviction the triples re-admit
    st.hasTimedOut = False
    out4 = list(fn(("d",), iter([pdf]), st))
    assert sum(len(o) for o in out4) == 2

    # the no-TTL variant never arms a timer
    from deepex_spark.streaming.stateful import _dedup_fn

    st2 = _FakeState()
    list(_dedup_fn(("d",), iter([pdf]), st2))
    assert st2.timeout_set is None


def test_state_bounded_with_bloom_tail():
    """A hot docid crossing MAX_EXACT must keep the exact list capped and
    divert the tail into the fixed 8 KiB bloom — dedup stays exact below
    the cap, never emits a duplicate above it, and total state stays
    <= MAX_EXACT longs + the bloom bytes."""
    import pandas as pd

    from deepex_spark.streaming.stateful import MAX_EXACT, _BLOOM_BYTES, _dedup_fn

    n = MAX_EXACT + 1000
    keys = [f"S{i} [SEP] r [SEP] O{i}" for i in range(n)]
    pdf = pd.DataFrame({"triple_key": keys, "score": [0.5] * n})
    st = _FakeState()
    out1 = list(_dedup_fn(("hot",), iter([pdf]), st))
    emitted1 = sum(len(o) for o in out1)
    seen_list, bloom = st.get
    assert len(seen_list) == MAX_EXACT                      # exact list capped
    assert bloom is not None and len(bloom) == _BLOOM_BYTES  # fixed-size tail
    # bloom FPs may drop a few novel keys, never more than ~1%
    assert emitted1 >= n - n // 100

    # replaying the identical batch emits NOTHING (no duplicates ever)
    out2 = list(_dedup_fn(("hot",), iter([pdf]), st))
    assert sum(len(o) for o in out2) == 0
    seen2, bloom2 = st.get
    assert len(seen2) == MAX_EXACT and len(bloom2) == _BLOOM_BYTES


def test_state_exact_below_cap():
    """Below MAX_EXACT no bloom is allocated and dedup is exact."""
    import pandas as pd

    from deepex_spark.streaming.stateful import _dedup_fn

    pdf = pd.DataFrame(
        {"triple_key": ["a", "b", "a", "c"], "score": [0.1, 0.2, 0.3, 0.4]}
    )
    st = _FakeState()
    out = list(_dedup_fn(("d",), iter([pdf]), st))
    assert sum(len(o) for o in out) == 3
    seen, bloom = st.get
    assert len(seen) == 3 and bloom is None
