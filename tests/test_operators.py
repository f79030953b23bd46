"""Unit tests for operator translators and semantics, reference-style
(the reference's per-operator JUnit corpus, SURVEY.md §5.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.operators.fieldspec import field_select, parse_spec
from hadoop_20_warehouse_fix_spark.operators.joins import override_join
from hadoop_20_warehouse_fix_spark.operators.keyspec import KeyPart, parse_keyspec
from hadoop_20_warehouse_fix_spark.operators.sort import grouped_ordered_list, top_k_per_group


def test_parse_spec_ranges():
    key, value = parse_spec("4,3,0-2:6,5-")
    assert key == [(4, 4), (3, 3), (0, 2)]
    assert value == [(6, 6), (5, None)]
    key, value = parse_spec("1-")
    assert key == [(1, None)] and value == []
    key, value = parse_spec("-2:0")
    assert key == [(0, 2)] and value == [(0, 0)]


def test_parse_keyspec():
    parts = parse_keyspec("-k2,2nr -k1.3,1")
    assert parts[0] == KeyPart(field_start=2, field_end=2, char_start=1, numeric=True, reverse=True)
    assert parts[1] == KeyPart(field_start=1, field_end=1, char_start=3, numeric=False, reverse=False)
    assert parse_keyspec("-k2")[0].field_end is None


def test_field_select_reorder(spark):
    # TestFieldSelection analog: select/reorder/open-range on tab fields.
    df = spark.createDataFrame([("a\tb\tc\td",)], ["line"])
    row = field_select(df, "line", "2,0:1-").collect()[0]
    assert row.key == "c\ta"
    assert row.value == "b\tc\td"


def test_field_select_short_line(spark):
    # Line shorter than the spec: missing single fields become "",
    # missing open ranges collapse.
    df = spark.createDataFrame([("x\ty",)], ["line"])
    row = field_select(df, "line", "0,3:2-").collect()[0]
    assert row.key == "x\t"
    assert row.value == ""


def test_override_join_rightmost_wins(spark):
    # TestDatamerge 'override' analog: rightmost source that has the key
    # wins; NULL value in a present later source still overrides.
    a = spark.createDataFrame([(1, "a1"), (2, "a2"), (3, "a3")], ["k", "v"])
    b = spark.createDataFrame([(2, "b2"), (4, "b4")], ["k", "v"])
    c = spark.createDataFrame([(3, None), (4, "c4")], ["k", "v"])
    out = {r.k: r.v for r in override_join([a, b, c], "k", ["v"]).collect()}
    assert out == {1: "a1", 2: "b2", 3: None, 4: "c4"}


def test_top_k_per_group_ties_deterministic(spark):
    df = spark.createDataFrame(
        [("g1", 10, 1), ("g1", 10, 2), ("g1", 5, 3), ("g2", 7, 4)], ["g", "v", "id"]
    )
    got = {
        (r.g, r.id)
        for r in top_k_per_group(df, ["g"], [F.desc("v"), F.asc("id")], 2).collect()
    }
    assert got == {("g1", 1), ("g1", 2), ("g2", 4)}


def test_grouped_ordered_list(spark):
    df = spark.createDataFrame(
        [("g", 3, "c"), ("g", 1, "a"), ("g", 2, "b"), ("h", 1, "z")], ["g", "o", "v"]
    )
    rows = {r.g: r.values for r in grouped_ordered_list(df, ["g"], "o", "v").collect()}
    assert rows == {"g": ["a", "b", "c"], "h": ["z"]}


def test_asof_join_backward_semantics(spark):
    from hadoop_20_warehouse_fix_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("u1", 10, "p1"), ("u1", 20, "p2"), ("u2", 5, "p3"), ("u3", 7, "p4")],
        ["user", "t", "pid"],
    )
    right = spark.createDataFrame(
        [("u1", 10, "c1"), ("u1", 15, "c2"), ("u2", 6, "c3")], ["user", "t", "cid"]
    )
    out = {
        r.pid: r.cid
        for r in asof_join(
            left, right, on="user", left_ts="t", right_ts="t", right_value_cols=["cid"]
        ).collect()
    }
    # p1: tie at t=10 matches (<=); p2: latest of c1/c2 = c2;
    # p3: right at t=6 is AFTER t=5 -> null; p4: no right rows -> null.
    assert out == {"p1": "c1", "p2": "c2", "p3": None, "p4": None}
    inner = {
        r.pid
        for r in asof_join(
            left, right, on="user", left_ts="t", right_ts="t",
            right_value_cols=["cid"], how="inner",
        ).collect()
    }
    assert inner == {"p1", "p2"}


def test_asof_join_bucketed_matches_window_form(spark):
    """The skew-resistant two-pass form must equal the single-window
    form row-for-row across bucket widths (including W=1, every row its
    own bucket, and W larger than the ts domain, one bucket == the
    window form's regime), both directions, and a hot-key distribution.
    Timestamps are unique per key so the equal-ts tie nondeterminism
    both forms share cannot fake a diff."""
    import random

    from hadoop_20_warehouse_fix_spark.operators.joins import asof_join, asof_join_bucketed

    rng = random.Random(42)
    # ~60% of left rows on the hot key "h"; unique ts per (key, side).
    def rows(n, tag):
        out = []
        seen = set()
        for i in range(n):
            k = "h" if rng.random() < 0.6 else f"k{rng.randrange(5)}"
            t = rng.randrange(0, 1000)
            while (k, t) in seen:
                t = rng.randrange(0, 1000)
            seen.add((k, t))
            out.append((k, t, f"{tag}{i}"))
        return out

    left = spark.createDataFrame(rows(120, "l"), ["k", "t", "lid"])
    right = spark.createDataFrame(rows(40, "r"), ["k", "t", "rid"])

    for direction in ("backward", "forward"):
        expect = sorted(
            (r.lid, r.rid)
            for r in asof_join(
                left, right, on="k", left_ts="t", right_ts="t",
                right_value_cols=["rid"], direction=direction,
            ).collect()
        )
        for w in (1, 7, 100, 10_000):
            got = sorted(
                (r.lid, r.rid)
                for r in asof_join_bucketed(
                    left, right, on="k", left_ts="t", right_ts="t",
                    right_value_cols=["rid"], bucket_width=w, direction=direction,
                ).collect()
            )
            assert got == expect, f"direction={direction} W={w}"

    # how='inner' drops unmatched left rows, same as the window form.
    inner_expect = sorted(
        r.lid
        for r in asof_join(
            left, right, on="k", left_ts="t", right_ts="t",
            right_value_cols=["rid"], how="inner",
        ).collect()
    )
    inner_got = sorted(
        r.lid
        for r in asof_join_bucketed(
            left, right, on="k", left_ts="t", right_ts="t",
            right_value_cols=["rid"], bucket_width=7, how="inner",
        ).collect()
    )
    assert inner_got == inner_expect


def test_asof_join_bucketed_negative_ts(spark):
    """Negative timestamps (pre-epoch) must bucket by FLOOR division —
    a truncating divide would map ts=-1 and ts=+1 into the same bucket 0
    and break the carry ordering across the sign boundary."""
    from hadoop_20_warehouse_fix_spark.operators.joins import asof_join_bucketed

    left = spark.createDataFrame([("a", -3, "p_neg"), ("a", 12, "p_pos")], ["k", "t", "pid"])
    right = spark.createDataFrame([("a", -15, "r_neg"), ("a", 2, "r_pos")], ["k", "t", "rid"])
    out = {
        r.pid: r.rid
        for r in asof_join_bucketed(
            left, right, on="k", left_ts="t", right_ts="t",
            right_value_cols=["rid"], bucket_width=10,
        ).collect()
    }
    # p_neg (t=-3): only r_neg (-15) is at-or-before; r_pos (t=2) must
    # not leak backward across the sign boundary. p_pos: r_pos wins.
    assert out == {"p_neg": "r_neg", "p_pos": "r_pos"}


def test_asof_join_bucketed_cross_bucket_carry(spark):
    """A left row whose bucket holds no right row must take the value
    from an EARLIER bucket (backward) / LATER bucket (forward), and a
    same-bucket right row strictly on the wrong side of the left ts
    must NOT leak in via the bucket summary (the _bside ordering)."""
    from hadoop_20_warehouse_fix_spark.operators.joins import asof_join_bucketed

    left = spark.createDataFrame([("a", 25, "p0"), ("a", 42, "p1")], ["k", "t", "pid"])
    # W=10: right t=7 lives in bucket 0; left t=25 (bucket 2) and t=42
    # (bucket 4) both carry across empty buckets. Right t=28 is in left
    # p0's OWN bucket but after t=25 — the backward summary for bucket 2
    # is max_by => t=28's value, which must stay invisible to p0.
    right = spark.createDataFrame([("a", 7, "r_old"), ("a", 28, "r_late")], ["k", "t", "rid"])
    back = {
        r.pid: r.rid
        for r in asof_join_bucketed(
            left, right, on="k", left_ts="t", right_ts="t",
            right_value_cols=["rid"], bucket_width=10,
        ).collect()
    }
    assert back == {"p0": "r_old", "p1": "r_late"}
    fwd = {
        r.pid: r.rid
        for r in asof_join_bucketed(
            left, right, on="k", left_ts="t", right_ts="t",
            right_value_cols=["rid"], bucket_width=10, direction="forward",
        ).collect()
    }
    assert fwd == {"p0": "r_late", "p1": None}


def test_range_band_join_boundaries(spark):
    from hadoop_20_warehouse_fix_spark.operators.joins import range_band_join

    facts = spark.createDataFrame([(0.0,), (9.99,), (10.0,), (25.0,), (30.0,)], ["v"])
    bands = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 30.0)], "band string, lo double, hi double"
    )
    got = sorted((r.v, r.band) for r in range_band_join(facts, bands, "v").collect())
    # lo inclusive, hi exclusive; 30.0 falls outside every band.
    assert got == [(0.0, "a"), (9.99, "a"), (10.0, "b"), (25.0, "b")]


def test_salted_two_phase_agg_equals_direct(spark):
    from hadoop_20_warehouse_fix_spark.operators.aggregates import salted_two_phase_agg

    df = spark.range(1000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") * 7 % 101).alias("v")
    )
    got = {
        r.k: (r.total, r.n, r.lo, r.hi)
        for r in salted_two_phase_agg(
            df, ["k"],
            {"total": ("v", "sum"), "n": ("v", "count"), "lo": ("v", "min"), "hi": ("v", "max")},
            salt_buckets=16,
        ).collect()
    }
    want = {
        r.k: (r.total, r.n, r.lo, r.hi)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count("v").alias("n"),
             F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    assert got == want


def test_salted_join_equals_plain_join(spark):
    from hadoop_20_warehouse_fix_spark.operators.joins import salted_join

    # 90% of left rows share one hot key.
    left = spark.range(1000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("rv"))
    got = {(r.k, r.lv, r.rv) for r in salted_join(left, right, "k", salt_buckets=8).collect()}
    want = {(r.k, r.lv, r.rv) for r in left.join(right, "k").collect()}
    assert got == want


def test_stratified_sample_deterministic_and_rates(spark):
    from hadoop_20_warehouse_fix_spark.sources.readers import stratified_sample

    df = spark.range(20000).select(
        F.col("id"), (F.col("id") % 2 == 0).cast("string").alias("s")
    )
    rates = {"true": 0.5, "false": 0.1}
    a = stratified_sample(df, "s", rates, "id")
    b = stratified_sample(df, "s", rates, "id")
    assert a.collect() == b.collect()
    got = {r.s: r.n for r in a.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(got["true"] / 10000 - 0.5) < 0.03
    assert abs(got["false"] / 10000 - 0.1) < 0.03
    # rate 1.0 keeps every row
    assert stratified_sample(df, "s", {"true": 1.0, "false": 1.0}, "id").count() == 20000


def test_count_min_sketch_properties(spark):
    from hadoop_20_warehouse_fix_spark.operators.aggregates import cms_lookup, count_min_sketch

    # Zipf-ish: value v appears ~20000/(v+1) times.
    items = spark.range(20000).select(
        (F.lit(20000) / (F.col("id") + 1)).cast("long").alias("bucket"),
        F.col("id"),
    ).select(F.col("id").cast("long").alias("k"), "bucket")
    data = items.select(F.explode(F.sequence(F.lit(1), F.col("bucket"))).alias("_"), (F.col("k") % 50).alias("v"))
    exact = {r.v: r.n for r in data.groupBy("v").agg(F.count(F.lit(1)).alias("n")).collect()}
    sketch = count_min_sketch(data, "v", width=1024, depth=4)
    assert sketch.count() <= 1024 * 4  # fixed-size summary
    est = {
        r.v: r.est_count
        for r in cms_lookup(sketch, data.select("v").distinct(), "v", width=1024, depth=4).collect()
    }
    for v, n in exact.items():
        assert est[v] >= n  # CMS never under-counts
    total = sum(exact.values())
    for v, n in sorted(exact.items(), key=lambda kv: -kv[1])[:10]:
        assert est[v] - n <= 0.01 * total  # heavy hitters are tight


def test_hll_distinct_within_tolerance(spark):
    from hadoop_20_warehouse_fix_spark.catalog import load_table
    from hadoop_20_warehouse_fix_spark.operators.aggregates import uniq_count
    from tests.conftest import SF_CORRECT

    li = load_table(spark, SF_CORRECT, "lineitem")
    exact = {
        r.l_returnflag: r.uniq_count
        for r in uniq_count(li, ["l_returnflag"], "l_partkey").collect()
    }
    approx = {
        r.l_returnflag: r.uniq_count
        for r in uniq_count(li, ["l_returnflag"], "l_partkey", approx=True).collect()
    }
    for k, e in exact.items():
        assert abs(approx[k] - e) / e < 0.05  # default HLL rsd


# --- property-based: fieldspec translator vs a Python reference ---------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    _token = st.text(alphabet="abc012", min_size=0, max_size=3)
    _line = st.lists(_token, min_size=0, max_size=8).map(lambda ts: ",".join(ts))
    _range = st.one_of(
        st.integers(0, 7).map(str),                                   # N
        st.tuples(st.integers(0, 7), st.integers(0, 7)).map(          # N-M
            lambda t: f"{min(t)}-{max(t)}"
        ),
        st.integers(0, 7).map(lambda n: f"{n}-"),                     # N-
    )
    _ranges = st.lists(_range, min_size=1, max_size=4).map(",".join)
    _spec = st.tuples(_ranges, _ranges).map(lambda t: f"{t[0]}:{t[1]}")

    def _py_select(arr, ranges, sep):
        pieces = []
        for start, end in ranges:
            if end is None:
                pieces.append(sep.join(arr[start:]))
            elif end == start:
                pieces.append(arr[start] if start < len(arr) else "")
            else:
                pieces.append(sep.join(arr[start : end + 1]))
        return sep.join(pieces)

    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    @given(spec=_spec, lines=st.lists(_line, min_size=1, max_size=8))
    def test_fieldspec_matches_python_reference(spark, spec, lines):
        from hadoop_20_warehouse_fix_spark.operators.fieldspec import field_select, parse_spec

        df = spark.createDataFrame([(ln,) for ln in lines], "line string")
        got = [(r.key, r.value) for r in field_select(df, "line", spec, sep=",").collect()]
        kr, vr = parse_spec(spec)
        want = [
            (_py_select(ln.split(","), kr, ","), _py_select(ln.split(","), vr, ","))
            for ln in lines
        ]
        assert got == want


if _HAS_HYPOTHESIS:
    _num_token = st.integers(-99, 99).map(str)
    _kline = st.lists(_num_token, min_size=1, max_size=5).map(lambda ts: ",".join(ts))
    _kpart = st.tuples(
        st.integers(1, 5),                      # field
        st.booleans(),                          # single-field vs to-end
        st.sampled_from(["", "n", "r", "nr"]),  # flags
    ).map(lambda t: f"-k{t[0]},{t[0]}{t[2]}" if t[1] else f"-k{t[0]}{t[2]}")
    _kspec = st.lists(_kpart, min_size=1, max_size=3).map(" ".join)

    def _py_sort_key(line, parts, sep):
        arr = line.split(sep)
        key = []
        for p in parts:
            if p.field_end == p.field_start:
                raw = arr[p.field_start - 1] if p.field_start - 1 < len(arr) else None
            elif p.field_end is None:
                raw = sep.join(arr[p.field_start - 1 :])
            else:
                raw = sep.join(arr[p.field_start - 1 : p.field_end])
            if raw is not None and p.char_start > 1:
                raw = raw[p.char_start - 1 :]
            if p.numeric:
                try:
                    v = float(raw) if raw not in (None, "") else None
                except ValueError:
                    v = None
            else:
                v = raw
            # Spark sorts NULLs FIRST ascending / LAST descending.
            if p.reverse:
                key.append((0 if v is not None else 1, _Neg(v) if v is not None else None))
            else:
                key.append((0 if v is None else 1, v))
        return tuple(key)

    class _Neg:
        """Ordering inverter for heterogeneous sortable values."""

        def __init__(self, v):
            self.v = v

        def __lt__(self, other):
            return other.v < self.v

        def __eq__(self, other):
            return other.v == self.v

    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    @given(spec=_kspec, lines=st.lists(_kline, min_size=1, max_size=10, unique=True))
    def test_keyspec_sort_matches_python_reference(spark, spec, lines):
        from hadoop_20_warehouse_fix_spark.operators.keyspec import keyfield_sort, parse_keyspec

        df = spark.createDataFrame([(ln,) for ln in lines], "line string")
        got = [r.line for r in keyfield_sort(df, "line", spec, sep=",").collect()]
        parts = parse_keyspec(spec)
        got_stable = sorted(lines, key=lambda ln: (_py_sort_key(ln, parts, ","),))
        # Compare KEYS, not full orders: ties are free to permute.
        assert [_py_sort_key(ln, parts, ",") for ln in got] == [
            _py_sort_key(ln, parts, ",") for ln in got_stable
        ]


if _HAS_HYPOTHESIS:

    @settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        left=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=1, max_size=12
        ),
        right=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=0, max_size=12
        ),
    )
    def test_asof_join_matches_python_reference(spark, left, right):
        from hadoop_20_warehouse_fix_spark.operators.joins import asof_join

        # Unique right (key, ts) so "latest at-or-before" is well-defined.
        right = list({(k, t): None for k, t in right}.keys())
        ldf = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, t long"
        )
        rdf = spark.createDataFrame(
            [(k, t, f"r{k}_{t}") for k, t in right], "k long, t long, rv string"
        )
        got = {
            r.lid: r.rv
            for r in asof_join(
                ldf, rdf, on="k", left_ts="t", right_ts="t", right_value_cols=["rv"]
            ).collect()
        }
        want = {}
        for i, (k, t) in enumerate(left):
            cands = [(rt, rv) for rk, rt in right if rk == k and rt <= t for rv in [f"r{rk}_{rt}"]]
            want[i] = max(cands)[1] if cands else None
        assert got == want
        from hadoop_20_warehouse_fix_spark.operators.joins import asof_join_bucketed

        got_b = {
            r.lid: r.rv
            for r in asof_join_bucketed(
                ldf, rdf, on="k", left_ts="t", right_ts="t",
                right_value_cols=["rv"], bucket_width=4,
            ).collect()
        }
        assert got_b == want


if _HAS_HYPOTHESIS:

    @settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        sources=st.lists(
            st.lists(st.tuples(st.integers(0, 5), st.one_of(st.none(), st.integers(0, 9))),
                     min_size=0, max_size=8),
            min_size=1, max_size=4,
        )
    )
    def test_override_join_matches_python_reference(spark, sources):
        from hadoop_20_warehouse_fix_spark.operators.joins import override_join

        # Unique keys within each source (one value per key per source).
        sources = [list({k: v for k, v in src}.items()) for src in sources]
        dfs = [
            spark.createDataFrame(src or [(None, None)], "k long, v long").filter("k IS NOT NULL")
            for src in sources
        ]
        got = {r.k: r.v for r in override_join(dfs, "k", ["v"]).collect()}
        want = {}
        for src in sources:  # later sources override earlier ones, even with NULL values
            for k, v in src:
                want[k] = v
        assert got == want


def test_prefix_sum_matches_sequential(spark):
    from hadoop_20_warehouse_fix_spark.operators.sort import prefix_sum

    rows = [(i, (i * 7) % 13) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r.k: r.cumsum for r in prefix_sum(df, "k", "v", num_partitions=7).collect()}
    acc, want = 0, {}
    for k, v in rows:
        acc += v
        want[k] = acc
    assert got == want
    # multi-partition really happened (no single-partition fallback)
    assert df.repartitionByRange(7, "k").rdd.getNumPartitions() == 7


def test_kmv_distinct_accuracy(spark):
    from hadoop_20_warehouse_fix_spark.operators.aggregates import kmv_distinct

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.count_distinct("l_partkey").alias("n")).collect()
    }
    est = {r.l_returnflag: r.est_distinct for r in kmv_distinct(li, ["l_returnflag"], "l_partkey", k=256).collect()}
    for flag, n in exact.items():
        if n >= 256:
            assert abs(est[flag] - n) / n < 0.25, (flag, est[flag], n)
    # determinism
    est2 = {r.l_returnflag: r.est_distinct for r in kmv_distinct(li, ["l_returnflag"], "l_partkey", k=256).collect()}
    assert est == est2


def test_cms_md5_never_undercounts(spark):
    from hadoop_20_warehouse_fix_spark.operators.aggregates import (
        cms_lookup_md5,
        count_min_sketch_md5,
    )

    df = spark.createDataFrame(
        [(w,) for w in ["a"] * 50 + ["b"] * 20 + ["c"] * 5 + ["d"]], ["word"]
    )
    sketch = count_min_sketch_md5(df, "word", width=64, depth=4)
    items = df.select("word").distinct()
    est = {r.word: r.est_count for r in cms_lookup_md5(sketch, items, "word", width=64, depth=4).collect()}
    truth = {"a": 50, "b": 20, "c": 5, "d": 1}
    for w, n in truth.items():
        assert est[w] >= n  # CMS never undercounts
    # absent item -> 0 or small overestimate, never dropped
    absent = spark.createDataFrame([("zz",)], ["word"])
    got = cms_lookup_md5(sketch, absent, "word", width=64, depth=4).collect()
    assert len(got) == 1 and got[0].est_count >= 0


def test_round2_operators_empty_and_degenerate_inputs(spark):
    """Empty/degenerate inputs must produce empty (not crashing) plans:
    the same hardening posture as test_dedup_family_null_and_degenerate."""
    from hadoop_20_warehouse_fix_spark.functions.embeddings import quantize_int8
    from hadoop_20_warehouse_fix_spark.operators.dedup import connected_components
    from hadoop_20_warehouse_fix_spark.operators.similarity import blocked_cosine_pairs
    from hadoop_20_warehouse_fix_spark.operators.sort import prefix_sum, zorder_value

    empty_edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty_edges).count() == 0

    empty_kv = spark.createDataFrame([], "k long, v long")
    assert prefix_sum(empty_kv, "k", "v").count() == 0

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert blocked_cosine_pairs(empty_emb, n_blocks=4).count() == 0
    assert quantize_int8(empty_emb).count() == 0

    # zero vector quantizes to scale 0 + zero codes (no division blowup)
    zv = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>")
    r = quantize_int8(zv).collect()[0]
    assert r.scale == 0.0 and list(r.codes) == [0, 0, 0]

    # single-row prefix sum
    one = spark.createDataFrame([(5, 7)], "k long, v long")
    assert prefix_sum(one, "k", "v").collect()[0].cumsum == 7

    # zorder of zeros is zero
    z = spark.createDataFrame([(0, 0)], "x long, y long")
    assert z.select(zorder_value(["x", "y"], bits=4).alias("z")).collect()[0].z == 0


def test_redact_pii_unit(spark):
    from hadoop_20_warehouse_fix_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [(1, "a@b.com and 10.0.0.1 and +44 20 7946 0958"), (2, ""), (3, None)],
        "id long, text string",
    )
    rows = {r.id: (r.red, r.c) for r in df.select(
        "id", redact_pii(F.col("text")).alias("red"), pii_counts(F.col("text")).alias("c")
    ).collect()}
    assert rows[1][0] == "<EMAIL> and <IPV4> and <PHONE>"
    assert dict(rows[1][1].asDict()) == {"email": 1, "ipv4": 1, "phone": 1}
    assert rows[2][0] == ""  # empty passes through
    assert rows[3][0] is None  # NULL propagates, no crash


if _HAS_HYPOTHESIS:

    @settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        left=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=1, max_size=12
        ),
        right=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=0, max_size=12
        ),
    )
    def test_asof_join_forward_matches_python_reference(spark, left, right):
        from hadoop_20_warehouse_fix_spark.operators.joins import asof_join

        right = list({(k, t): None for k, t in right}.keys())
        ldf = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, t long"
        )
        rdf = spark.createDataFrame(
            [(k, t, f"r{k}_{t}") for k, t in right], "k long, t long, rv string"
        )
        got = {
            r.lid: r.rv
            for r in asof_join(
                ldf, rdf, on="k", left_ts="t", right_ts="t",
                right_value_cols=["rv"], direction="forward",
            ).collect()
        }
        want = {}
        for i, (k, t) in enumerate(left):
            cands = [(rt, rv) for rk, rt in right if rk == k and rt >= t for rv in [f"r{rk}_{rt}"]]
            want[i] = min(cands)[1] if cands else None
        assert got == want


def test_approx_percentile_within_rank_error(spark):
    # The documented scale swap for agg_percentiles: approx_percentile's
    # value must sit within the rank-error band of the exact sorted set
    # (accuracy=100 -> rank error <= 1%).
    from hadoop_20_warehouse_fix_spark.catalog import load_table
    from tests.conftest import SF_CORRECT

    li = load_table(spark, SF_CORRECT, "lineitem").select("l_extendedprice")
    vals = sorted(r.l_extendedprice for r in li.collect())
    n = len(vals)
    approx = li.agg(
        F.expr("approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D), 100)").alias("p")
    ).head().p
    for q, got in zip((0.25, 0.5, 0.75), approx):
        lo = vals[max(0, int((q - 0.02) * n))]
        hi = vals[min(n - 1, int((q + 0.02) * n))]
        assert lo <= got <= hi, (q, got, lo, hi)


def test_profile_columns_nulls_empty_and_numeric_ordering(spark):
    """profile_columns counts NULLs out of n_filled but into n_rows,
    orders numerics numerically (9 < 10 — not lexicographically), and
    returns 0 rows (not a crash) on an empty input."""
    from hadoop_20_warehouse_fix_spark.operators.aggregates import profile_columns

    df = spark.createDataFrame(
        [(9.0, "a"), (10.0, None), (None, "b"), (9.0, "b")], "x double, s string"
    )
    got = {r.col_name: r for r in profile_columns(df, [("x", True), ("s", False)]).collect()}
    x, s = got["x"], got["s"]
    assert (x.n_rows, x.n_filled, x.n_distinct) == (4, 3, 2)
    assert (x.min_v, x.max_v) == ("9.0", "10.0")  # numeric, not lexicographic
    assert (s.n_rows, s.n_filled, s.n_distinct) == (4, 3, 2)
    assert (s.min_v, s.max_v) == ("a", "b")

    empty = spark.createDataFrame([], "x double, s string")
    assert profile_columns(empty, [("x", True), ("s", False)]).count() == 0


def test_prefix_sum_with_negative_values(spark):
    """Partition totals must be sum(value), not max(running sum): with
    negatives the running sum peaks mid-partition and a max-based
    offset silently inflates every later partition's cumsum."""
    from hadoop_20_warehouse_fix_spark.operators.sort import prefix_sum

    vals = [5, -3, 2, -7, 4, -1, 6, -2, 3, -4] * 20
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r.k: r.cumsum for r in prefix_sum(df, "k", "v", num_partitions=7).collect()}
    acc, want = 0, {}
    for i, v in enumerate(vals):
        acc += v
        want[i] = acc
    assert got == want


def test_field_and_key_specs_treat_separator_literally(spark):
    """'|' and '.' separators are literal characters (FieldSelection /
    sort -t semantics), not regexes — an unescaped '|' is an empty
    alternation that splits every character apart."""
    from hadoop_20_warehouse_fix_spark.operators.fieldspec import field_select
    from hadoop_20_warehouse_fix_spark.operators.keyspec import keyspec_columns

    df = spark.createDataFrame([("a|bb|ccc",), ("z|y|x",)], "line string")
    out = {(r.key, r.value) for r in field_select(df, "line", "1-:0", sep="|").collect()}
    assert out == {("bb|ccc", "a"), ("y|x", "z")}
    ordered = [
        r.line
        for r in df.orderBy(*keyspec_columns("line", "-k2,2", sep="|")).collect()
    ]
    assert ordered == ["a|bb|ccc", "z|y|x"]  # sorted by field 2: bb < y


def test_read_kv_text_multichar_and_quote_separators(spark, tmp_path):
    """Multi-char separators must split AFTER the whole separator, and a
    quote separator must not break the (formerly SQL-interpolated)
    value expression."""
    from hadoop_20_warehouse_fix_spark.sources.readers import read_kv_text

    p1 = str(tmp_path / "kv1.txt")
    with open(p1, "w") as f:
        f.write("a::b\nnokey\nx::y::z\n")
    got = {(r.key, r.value) for r in read_kv_text(spark, p1, sep="::").collect()}
    assert got == {("a", "b"), ("nokey", ""), ("x", "y::z")}

    p2 = str(tmp_path / "kv2.txt")
    with open(p2, "w") as f:
        f.write("k'v\n")
    got2 = {(r.key, r.value) for r in read_kv_text(spark, p2, sep="'").collect()}
    assert got2 == {("k", "v")}


def test_stratified_sample_empty_rates_uses_default(spark):
    from hadoop_20_warehouse_fix_spark.sources.readers import stratified_sample

    df = spark.createDataFrame([(i, "en") for i in range(100)], "doc_id long, lang string")
    kept_all = stratified_sample(df, "lang", {}, "doc_id", default_rate=1.0).count()
    kept_none = stratified_sample(df, "lang", {}, "doc_id", default_rate=0.0).count()
    assert kept_all == 100 and kept_none == 0
    kept_half = stratified_sample(df, "lang", {}, "doc_id", default_rate=0.5).count()
    assert 20 <= kept_half <= 80


def test_range_fragment_join_matches_broadcast_form(spark):
    """The big-big fragment form must produce exactly the broadcast
    NLJ's matches — including bands spanning many fragments, bands
    inside one fragment, facts on band boundaries, and overlapping
    bands (a fact may match several)."""
    import random

    from hadoop_20_warehouse_fix_spark.operators.joins import (
        range_band_join,
        range_fragment_join,
    )

    rng = random.Random(7)
    bands = []
    for i in range(200):
        lo = rng.randrange(0, 50_000)
        hi = lo + rng.choice([1, 3, 999, 1000, 1001, 7777])
        bands.append((i, lo, hi))
    facts = [(j, rng.randrange(0, 60_000)) for j in range(2_000)]
    # boundary probes: exactly lo (inclusive) and exactly hi (exclusive)
    facts += [(9001, bands[0][1]), (9002, bands[0][2])]
    bdf = spark.createDataFrame(bands, "band_id long, lo long, hi long")
    fdf = spark.createDataFrame(facts, "fact_id long, v long")

    want = {
        (r.fact_id, r.band_id)
        for r in range_band_join(fdf, bdf, "v").collect()
    }
    for w in (100, 1000, 10_000):
        got = {
            (r.fact_id, r.band_id)
            for r in range_fragment_join(fdf, bdf, "v", fragment_width=w).collect()
        }
        assert got == want, f"fragment_width={w} mismatch"


def test_mix_corpora_hits_target_proportions(spark):
    """mix_corpora: binding source kept whole (rate 1.0), others thinned
    to the target ratio; deterministic across calls; absent sources
    dropped. Token masses engineered so 'code' binds at a 20% share."""
    from hadoop_20_warehouse_fix_spark.sources.readers import mix_corpora
    from pyspark.sql import functions as F

    rows = []
    did = 0
    # web: 8000 docs x 10 tokens = 80k; books: 3000 x 10 = 30k;
    # code: 500 x 10 = 5k  (code/0.2 = 25k is the binding minimum)
    for src, ndocs in (("web", 8000), ("books", 3000), ("code", 500), ("junk", 100)):
        for _ in range(ndocs):
            rows.append((did, src, 10))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    target = {"web": 0.5, "books": 0.3, "code": 0.2}
    sampled, rates = mix_corpora(df, "source", "n_tokens", target, "doc_id")
    # binding source: code availability 5k / share 0.2 => total 25k
    assert rates["code"] == 1.0
    assert abs(rates["web"] - (0.5 * 25000 / 80000)) < 1e-12
    assert abs(rates["books"] - (0.3 * 25000 / 30000)) < 1e-12
    got = {
        r.source: r.w
        for r in sampled.groupBy("source").agg(F.sum("n_tokens").alias("w")).collect()
    }
    assert "junk" not in got  # absent from targets => dropped
    assert got["code"] == 5000  # binding source rides whole
    # realized mass within 10% of target (md5 coin, ~1-4k docs/source)
    for src, share in target.items():
        assert abs(got[src] - share * 25000) / (share * 25000) < 0.10, (src, got)
    # determinism: the same rows exactly, on a rerun
    a = {r.doc_id for r in sampled.collect()}
    b = {r.doc_id for r in mix_corpora(df, "source", "n_tokens", target, "doc_id")[0].collect()}
    assert a == b


def test_mix_then_split_coins_are_independent(spark):
    """Regression: mix_corpora's coin is salted, so a downstream
    assign_split on the SAME key must still produce val/test rows among
    the survivors of a thinned source. (Unsalted, both decisions share
    one uniform variate: every survivor of a source thinned to rate <=
    0.98 would satisfy coin < 0.98 and land in 'train'.)"""
    from hadoop_20_warehouse_fix_spark.sources.readers import assign_split, mix_corpora
    from pyspark.sql import functions as F

    rows = [(i, "big" if i % 4 else "small", 10) for i in range(8000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    sampled, rates = mix_corpora(
        df, "source", "n_tokens", {"big": 0.5, "small": 0.5}, "doc_id"
    )
    assert rates["small"] == 1.0 and rates["big"] < 0.5  # big thinned hard
    split_counts = {
        (r.source, r.split): r.n
        for r in assign_split(sampled, "doc_id")
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # the thinned source must still see val/test assignments (~1% each
    # of ~1000 survivors; P(zero in both) is astronomically small only
    # if coins are independent — exactly what the salt guarantees)
    assert any(k == ("big", "val") or k == ("big", "test") for k in split_counts), (
        split_counts
    )


def test_with_global_rank_auto_selects_form_and_forms_agree(spark, monkeypatch):
    """InputSampler-style auto selection (round-5 brief #1): below the
    measured crossover the cheap single-window form runs; above it the
    scale-safe per-partition-offset form engages (visible as the
    offsets BroadcastHashJoin in the plan). Output is identical either
    way — the strategy choice is a physical detail, never a semantic
    one."""
    from hadoop_20_warehouse_fix_spark.operators import sort
    from hadoop_20_warehouse_fix_spark.operators.sort import with_global_rank
    from hadoop_20_warehouse_fix_spark.plans.cache import cache_scope
    from hadoop_20_warehouse_fix_spark.plans.inspect import plan_summary

    df = spark.range(0, 5000).select(
        (F.col("id") * 37 % 4999).alias("k"), F.col("id")
    )
    key = lambda r: (r.k, r.id, r.rank)  # noqa: E731

    # below the default 2.4M crossover -> single window (no join).
    # Round-6 conditional-persist contract, cheap branch: a
    # scan+project plan's probe count is ~free (Catalyst prunes it), so
    # the probe counts WITHOUT persisting and the scope stays empty
    with cache_scope() as held:
        single = with_global_rank(df, ["k", "id"])
        assert plan_summary(single).num_broadcast_joins == 0
    assert held == []  # no persist for a count()-is-free plan
    # above a lowered crossover -> distributed offsets (one
    # BroadcastHashJoin shipping the P-row offset relation)
    monkeypatch.setattr(sort, "GLOBAL_RANK_CROSSOVER_ROWS", 1000)
    dist = with_global_rank(df, ["k", "id"])
    assert plan_summary(dist).num_broadcast_joins == 1
    assert sorted(map(key, single.collect())) == sorted(map(key, dist.collect()))
    monkeypatch.undo()

    # expensive branch: an upstream aggregate means re-evaluating the
    # plan for the probe count is real work, so auto persists first and
    # registers the persisted input in the open scope
    from hadoop_20_warehouse_fix_spark.operators.sort import _count_reruns_real_work

    heavy = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    assert _count_reruns_real_work(heavy) is True
    assert _count_reruns_real_work(df) is False
    # a column alias CONTAINING an operator name must not fake expense
    # (round-6 review: the substring matcher persisted for "SortKey")
    aliased = df.select(F.col("k").alias("SortKeyJoinLimit"), "id")
    assert _count_reruns_real_work(aliased) is False
    with cache_scope() as held:
        auto_heavy = with_global_rank(heavy, ["n", "k"])
        assert len(held) == 1  # the probe's persisted input
        assert plan_summary(auto_heavy).num_broadcast_joins == 0  # still below crossover
        assert auto_heavy.count() == heavy.count()
    assert not held[0].storageLevel.useMemory  # released with the scope
    spark.catalog.clearCache()  # distributed form persists its input


def test_skew_join_strategy_picker_and_equality(spark):
    """Round-8 brief #4: the measured skew policy (SCALING.md r8 —
    broadcast when the right fits, AQE skew split over explicit
    salting when live, salted as the AQE-off fallback, plain when no
    skew) — and every strategy's physical join returns the same rows
    as the plain join."""
    from hadoop_20_warehouse_fix_spark.operators.joins import (
        choose_skew_join_strategy,
        estimate_key_skew,
        salted_join,
        skew_join,
    )

    # planted skew: half the rows on key 0, rest uniform
    left = spark.range(20_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lv"),
    )
    uniform = spark.range(20_000).select(F.col("id").alias("k"), F.col("id").alias("lv"))
    right = spark.range(5_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("rv"))

    assert estimate_key_skew(left, "k", fraction=0.2) > 0.3
    assert estimate_key_skew(uniform, "k", fraction=0.2) < 0.05
    assert estimate_key_skew(left.filter("k < 0"), "k") == 0.0  # empty: no evidence

    # small right side -> broadcast, whatever the skew
    s, diag = choose_skew_join_strategy(left, right, "k")
    assert s == "broadcast" and diag["right_rows"] == 5_000
    # big right + skew -> AQE skew split when live, salted when off
    s, diag = choose_skew_join_strategy(left, right, "k", broadcast_row_cap=100)
    assert s == "aqe_skew" and diag["aqe_skew_live"] and diag["max_key_share"] > 0.3
    old = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        s, _ = choose_skew_join_strategy(left, right, "k", broadcast_row_cap=100)
        assert s == "salted"
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", old)
    # big right + no skew -> plain
    s, _ = choose_skew_join_strategy(uniform, right, "k", broadcast_row_cap=100)
    assert s == "plain"

    def rows(df):
        return {(r.k, r.lv, r.rv) for r in df.collect()}

    # plain and aqe_skew ARE the plain join; broadcast and salted are
    # checked directly, and skew_join itself (broadcast here) agrees
    want = rows(left.join(right, "k"))
    assert rows(left.join(F.broadcast(right), "k")) == want
    assert rows(salted_join(left, right, "k")) == want
    assert rows(skew_join(left, right, "k")) == want


def test_skew_join_broadcast_cap_respects_row_width(spark):
    """Round-8 review: the broadcast pick must consider BYTES, not just
    rows — wide rows under the row cap must fall through to the
    shuffle strategies."""
    from hadoop_20_warehouse_fix_spark.operators.joins import (
        choose_skew_join_strategy,
    )

    left = spark.range(5_000).select(F.col("id").alias("k"), F.col("id").alias("lv"))
    wide = spark.range(2_000).select(
        F.col("id").alias("k"), F.repeat(F.lit("x"), 5000).alias("blob")
    )
    s, diag = choose_skew_join_strategy(
        left, wide, "k", broadcast_byte_cap=1 << 20
    )
    assert s != "broadcast" and diag["right_bytes_est"] > 1 << 20
    narrow = wide.select("k")
    s2, diag2 = choose_skew_join_strategy(
        left, narrow, "k", broadcast_byte_cap=1 << 20
    )
    assert s2 == "broadcast" and diag2["right_bytes_est"] <= 1 << 20


def test_skew_strategy_aqe_probe_case_insensitive(spark):
    """Round-8 ADVICE: a user-set 'TRUE' must still classify AQE as
    live — the case-sensitive compare silently downgraded to the
    salted strategy."""
    from hadoop_20_warehouse_fix_spark.operators.joins import choose_skew_join_strategy

    left = spark.range(20_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(5_000).select(F.col("id").alias("k"))
    old_a = spark.conf.get("spark.sql.adaptive.enabled", "true")
    old_s = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "TRUE")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "True")
        s, diag = choose_skew_join_strategy(left, right, "k", broadcast_row_cap=100)
        assert diag["aqe_skew_live"] and s == "aqe_skew"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_a)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", old_s)


def test_key_prefilter_join_equals_plain_and_guards(spark):
    """Round 11: semi-join reduction — the broadcast key prefilter must
    be row-identical to the plain join (including dim-side key
    multiplicity), fall back to the plain join past the key cap, and
    refuse fact-preserving join types where dropping unmatched fact
    rows up front would change the result."""
    import pytest

    from hadoop_20_warehouse_fix_spark.operators.joins import key_prefilter_join

    fact = spark.range(10_000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("fv")
    )
    # dim: 1% of the key space, keys 0..4, each key appearing TWICE
    # (multiplicity must survive the prefilter's distinct())
    dim = (
        spark.range(10)
        .select((F.col("id") % 5).alias("k"), (F.col("id") * 7).alias("dv"))
    )

    want = {(r.k, r.fv, r.dv) for r in fact.join(dim, "k").collect()}
    got = {(r.k, r.fv, r.dv) for r in key_prefilter_join(fact, dim, "k").collect()}
    assert got == want and len(want) == 10_000 // 500 * 5 * 2

    want_semi = {(r.k, r.fv) for r in fact.join(dim, "k", "left_semi").collect()}
    got_semi = {
        (r.k, r.fv)
        for r in key_prefilter_join(fact, dim, "k", how="left_semi").collect()
    }
    assert got_semi == want_semi

    # past the cap: identical rows via the plain fallback
    got_fb = {
        (r.k, r.fv, r.dv)
        for r in key_prefilter_join(fact, dim, "k", max_keys=2).collect()
    }
    assert got_fb == want
    with pytest.raises(ValueError, match="distinct join keys"):
        key_prefilter_join(fact, dim, "k", max_keys=2, on_overflow="raise")
    with pytest.raises(ValueError, match="only sound"):
        key_prefilter_join(fact, dim, "k", how="left")
    with pytest.raises(ValueError, match="on_overflow"):
        key_prefilter_join(fact, dim, "k", on_overflow="maybe")


def test_key_prefilter_join_broadcasts_only_the_keys(spark):
    """The prefilter's BroadcastExchange must carry ONLY the join key
    column — shipping dim's payload columns would re-create exactly the
    executor-memory problem the operator exists to avoid."""
    from hadoop_20_warehouse_fix_spark.operators.joins import key_prefilter_join
    from hadoop_20_warehouse_fix_spark.plans.inspect import plan_summary

    fact = spark.range(50_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("fv")
    )
    dim = spark.range(20).select(
        F.col("id").alias("k"), F.repeat(F.lit("x"), 100).alias("payload")
    )
    out = key_prefilter_join(fact, dim, "k")
    s = plan_summary(out)
    assert s.num_broadcast_joins >= 1
    key_only = [cols for cols in s.broadcast_inputs() if cols == {"k"}]
    assert key_only, f"no key-only broadcast in {s.broadcast_inputs()}"


def test_bench_own_cpu_includes_reaped_children():
    """Round-8 ADVICE: _own_cpu_seconds must count CPU of descendants
    that already EXITED (cutime/cstime of live ancestors) — otherwise
    the bench's own finished workers read as ambient load and
    false-positive the end-load caveat."""
    import subprocess
    import sys

    sys.path.insert(0, "/root/repo")
    try:
        from bench import _own_cpu_seconds
    finally:
        sys.path.pop(0)

    before = _own_cpu_seconds()
    assert before is not None
    # burn ~0.5s of CPU in a child, then REAP it (it leaves /proc)
    subprocess.run(
        [sys.executable, "-c",
         "t=__import__('time').process_time()\n"
         "while __import__('time').process_time()-t<0.5: pass"],
        check=True,
    )
    after = _own_cpu_seconds()
    assert after - before >= 0.4, (before, after)


def test_bench_payload_line_fits_driver_tail_window():
    """Round-10 "what's wrong" #1: the driver keeps only the LAST 2000
    chars of bench output and parses the trailing JSON line; round 10's
    fingerprint emission pushed the payload past that and BENCH_r10.json
    shipped parsed:null. Pin the invariant: a worst-case realistic
    payload (14 headline queries at real name lengths, caveat firing,
    amortized + a couple of errors) serializes under the budget — and
    bulky diagnostics are NOT in the payload at all."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    try:
        from bench import PAYLOAD_LINE_BUDGET, assemble_payload
    finally:
        sys.path.pop(0)

    names = [
        "corpus_clean", "dedup_ngram_jaccard", "events_json_props",
        "events_tumbling_hourly", "join_broadcast_dim", "q10_returned_items",
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q9_product_type_profit", "sim_ann_ivf_md5",
        "sort_total_order", "text_wordcount",
    ]
    payload = assemble_payload(
        per_query={n: 123.456 for n in names},
        sf_val=0.1,
        load_now=[12.34, 12.34, 12.34],
        gate={"threshold": 3.0, "waited_sec": 120.0, "load_at_start": 31.27, "satisfied": True},
        own_cpu=12345.6,
        wall=999.9,
        load_end_1min=31.27,  # forces the during-run caveat (worst case)
        amortized={"sim_ann_ivf_md5": 123.456},
        errors={"q9_product_type_profit": "X" * 500, "text_wordcount": "Y" * 500},
    )
    line = json.dumps(payload)
    assert len(line) < PAYLOAD_LINE_BUDGET, len(line)
    assert PAYLOAD_LINE_BUDGET <= 1800  # stays inside the 2000-char tail
    assert "plan_fingerprints" not in payload and "runs" not in payload
    assert "caveat" in payload  # the worst case we sized for actually fired
    # a pathological many-error run stays bounded too
    payload_err = assemble_payload(
        per_query={},
        sf_val=0.1,
        load_now=[1.0, 1.0, 1.0],
        gate={"threshold": 3.0, "waited_sec": 0.0, "load_at_start": 0.5, "satisfied": True},
        own_cpu=None,
        wall=10.0,
        load_end_1min=0.5,
        errors={n: "E" * 500 for n in names},
    )
    assert len(json.dumps(payload_err)) < PAYLOAD_LINE_BUDGET


def test_session_dev_profile_makes_aqe_skew_split_fire(spark):
    """Round-9 brief #6: the r8 study's sharpest finding — AQE's skew
    split silently does NOT fire at dev scale (hot partition under the
    256 MB default threshold) — gets a session-level answer.
    build_session(profile='dev') sets dev-scale thresholds; under them
    a planted-skew join's executed plan carries the split
    (SortMergeJoin(skew=true) / AQEShuffleRead skewed); under the prod
    defaults the same join runs unsplit. Two traps this test also
    encodes (measured while building it): payloads must be
    INCOMPRESSIBLE (skew detection reads compressed shuffle bytes — a
    repeated-char payload lz4s away the skew), and the downstream must
    not require the join's partitioning (a groupBy on the join key
    vetoes the split as an extra-shuffle regression)."""
    import pytest

    from hadoop_20_warehouse_fix_spark.session import build_session

    with pytest.raises(ValueError, match="profile"):
        build_session(profile="staging")

    thr_key = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    adv_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    bc_key = "spark.sql.autoBroadcastJoinThreshold"
    sp_key = "spark.sql.shuffle.partitions"
    old = {k: spark.conf.get(k) for k in (thr_key, adv_key, bc_key, sp_key)}

    left = spark.range(2_000_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.concat(
            F.md5(F.col("id").cast("string")),
            F.md5((F.col("id") + 1).cast("string")),
        ).alias("lv"),
    )
    # the hot key is ABSENT from the right side so the join OUTPUT stays
    # small (collect-able) while the left INPUT partition stays skewed
    right = spark.range(1, 100_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("rv")
    )

    def executed_plan_of_join():
        j = left.join(right, "k")
        rows = j.collect()
        assert len(rows) == 50_000
        return j._jdf.queryExecution().executedPlan().toString()

    try:
        spark.conf.set(bc_key, "-1")  # force the shuffle join
        # dev profile: thresholds land on the (existing) session via
        # getOrCreate's runtime-SQL-conf application
        s2 = build_session(app_name="h20wf-tests", profile="dev")
        assert s2 is spark
        assert spark.conf.get(thr_key) == "8m"
        assert spark.conf.get(adv_key) == "2m"
        # The split needs enough shuffle partitions to resolve the
        # skew: at 4 the hot partition holds ~62.5% of the bytes and
        # the median ~12.5% — exactly skewedPartitionFactor (5) times
        # it, and Spark splits only ABOVE that factor. build_session
        # above set it to the host's core count; 16 and 32 both split.
        spark.conf.set(sp_key, "32")
        plan = executed_plan_of_join()
        assert "skew=true" in plan and "AQEShuffleRead skewed" in plan
        # prod defaults: same join, no split
        spark.conf.set(thr_key, "256m")
        spark.conf.set(adv_key, "64m")
        plan = executed_plan_of_join()
        assert "skew=true" not in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
