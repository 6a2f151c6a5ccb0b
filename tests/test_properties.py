"""Property-based algebraic identities (SURVEY §5.2 #5) on generated
micro-tables: the operator algebra must hold for arbitrary inputs, not
just the fixtures."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

keys = st.lists(st.integers(min_value=0, max_value=20), min_size=0, max_size=30)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, xs, col="k"):
    return spark.createDataFrame([(int(x),) for x in xs], f"{col} int")


@given(a=keys, b=keys)
@_settings
def test_semi_plus_anti_partitions_left(spark, a, b):
    """semi(A,B) ⊎ anti(A,B) == A — row-for-row, multiplicity preserved."""
    da, db = _df(spark, a), _df(spark, b)
    semi = da.join(db, "k", "left_semi")
    anti = da.join(db, "k", "left_anti")
    union = sorted(r["k"] for r in semi.unionAll(anti).collect())
    assert union == sorted(a)


@given(a=keys, b=keys)
@_settings
def test_union_all_counts_add(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    assert da.unionAll(db).count() == len(a) + len(b)


@given(a=keys, b=keys)
@_settings
def test_intersect_within_both_except_disjoint(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    inter = {r["k"] for r in da.intersect(db).collect()}
    assert inter == set(a) & set(b)
    diff = {r["k"] for r in da.subtract(db).collect()}
    assert diff == set(a) - set(b)


@given(a=keys)
@_settings
def test_dropduplicates_is_set(spark, a):
    da = _df(spark, a)
    got = sorted(r["k"] for r in da.dropDuplicates().collect())
    assert got == sorted(set(a))


@given(a=keys, b=keys)
@_settings
def test_inner_join_cardinality(spark, a, b):
    """|A ⋈ B| on key k = sum over keys of count_A(k) * count_B(k)."""
    from collections import Counter

    da, db = _df(spark, a), _df(spark, b)
    expected = sum(
        Counter(a)[k] * Counter(b)[k] for k in set(a) & set(b)
    )
    assert da.join(db, "k").count() == expected


texts = st.lists(
    st.lists(
        st.integers(min_value=0, max_value=15), min_size=0, max_size=12
    ).map(lambda toks: " ".join(f"w{t}" for t in toks)),
    min_size=0,
    max_size=16,
)


@given(docs=texts, threshold=st.sampled_from([0.34, 0.5, 0.75]))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_prefix_jaccard_matches_bruteforce(spark, docs, threshold):
    """The prefix-filter join's no-false-negative theorem, checked
    against a Python brute force on arbitrary generated corpora: every
    pair with token-set Jaccard >= t (within the length band) must be
    returned, with the right Jaccard value, and nothing else."""
    from etl_spark_eks_spark.operators.dedup import jaccard_near_dedup

    df = spark.createDataFrame(
        [(i, "xx", t) for i, t in enumerate(docs)],
        "doc_id long, lang string, text string",
    )
    got = {
        (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
        for r in jaccard_near_dedup(
            df, "text", "doc_id", ["lang"], threshold, 0.5, strategy="prefix"
        ).collect()
    }
    sets = [set(t.split()) for t in docs]
    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sets[i], sets[j]
            if not a or not b:
                continue
            if abs(len(a) - len(b)) > 0.5 * max(len(a), len(b)):
                continue
            jac = len(a & b) / len(a | b)
            if jac >= threshold:
                want[(i, j)] = jac
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9


asof_side = st.lists(
    st.tuples(st.integers(min_value=0, max_value=5),
              st.integers(min_value=0, max_value=50)),
    min_size=0,
    max_size=25,
)


@given(l=asof_side, r=asof_side)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_duckdb_and_bruteforce(spark, l, r):
    """As-of tie-break parity (SURVEY §7 watch list: 'the most likely
    silent-mismatch operator') on arbitrary generated tables, including
    duplicate right timestamps (ties) and users missing from either
    side: asof_join must equal both a Python brute force (greatest
    right ts <= left ts per key, else NULL) and DuckDB's native ASOF
    LEFT JOIN — the same oracle q_b15 is checked against, here driven
    across the whole input space instead of one fixture shape."""
    import duckdb
    import pandas as pd

    from etl_spark_eks_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [(i, int(ts), int(u)) for i, (u, ts) in enumerate(l)],
        "event_id long, ts long, user_id long",
    )
    rdf = spark.createDataFrame(
        [(int(u), int(ts)) for u, ts in r], "user_id long, ts long"
    )
    got = {
        (row["event_id"], row["r_ts"])
        for row in asof_join(
            ldf, rdf, on="user_id", left_ts="ts", right_ts="ts",
            left_id="event_id", right_cols=["ts"],
        ).collect()
    }

    want = set()
    for i, (u, ts) in enumerate(l):
        cands = [rts for (ru, rts) in r if ru == u and rts <= ts]
        want.add((i, max(cands) if cands else None))
    assert got == want

    lp = pd.DataFrame(
        [(i, ts, u) for i, (u, ts) in enumerate(l)],
        columns=["event_id", "ts", "user_id"],
    ).astype("int64")
    rp = pd.DataFrame(r, columns=["user_id", "ts"]).astype("int64")
    con = duckdb.connect()
    con.register("lp", lp)
    con.register("rp", rp)
    duck = {
        (int(a), None if b is None else int(b))
        for a, b in con.execute(
            """
            SELECT p.event_id, c.ts FROM lp p
            ASOF LEFT JOIN rp c
              ON p.user_id = c.user_id AND p.ts >= c.ts
            """
        ).fetchall()
    }
    con.close()
    assert got == duck


asof_tie_heavy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2),
              st.integers(min_value=0, max_value=4)),
    min_size=4,
    max_size=30,
)


@given(l=asof_tie_heavy, r=asof_tie_heavy)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_tie_heavy(spark, l, r):
    """As-of under maximal tie pressure (SURVEY §7: 'the most likely
    silent mismatch'): 3 users x 5 timestamps with up to 30 rows per
    side guarantees duplicate (user, ts) rows on BOTH sides. Contract:
    exactly ONE output row per left event (tied right rows must not
    fan out), and its matched ts is the brute-force greatest-<=."""
    from etl_spark_eks_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [(i, int(ts), int(u)) for i, (u, ts) in enumerate(l)],
        "event_id long, ts long, user_id long",
    )
    rdf = spark.createDataFrame(
        [(int(u), int(ts)) for u, ts in r], "user_id long, ts long"
    )
    rows = asof_join(
        ldf, rdf, on="user_id", left_ts="ts", right_ts="ts",
        left_id="event_id", right_cols=["ts"],
    ).collect()
    assert len(rows) == len(l), (
        f"tied right rows fanned out: {len(rows)} rows for {len(l)} events"
    )
    got = {(row["event_id"], row["r_ts"]) for row in rows}
    want = set()
    for i, (u, ts) in enumerate(l):
        cands = [rts for (ru, rts) in r if ru == u and rts <= ts]
        want.add((i, max(cands) if cands else None))
    assert got == want


def test_salted_join_equals_plain_join(spark):
    """B68: the salted (key, salt) join must return exactly the plain
    join's multiset for every n_salts — including rows whose key has no
    match (dropped in both) and keys with multiple matches on the small
    side (every (big, small) pair must appear exactly once, not once
    per salt)."""
    from etl_spark_eks_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(97)],
        "row_id long, k long, v double",
    )
    small = spark.createDataFrame(
        [(0, "a"), (0, "b"), (1, "c"), (2, "d"), (9, "z")],
        "sk long, tag string",
    )
    want = sorted(
        (r["row_id"], r["tag"])
        for r in big.join(small, big.k == small.sk).collect()
    )
    for n in (1, 3, 8):
        got = sorted(
            (r["row_id"], r["tag"])
            for r in salted_join(big, small, "k", "sk", "row_id", n).collect()
        )
        assert got == want, f"n_salts={n} changed the join result"


range_points = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=0, max_size=25
)
range_intervals = st.lists(
    st.tuples(st.integers(min_value=-50, max_value=50),
              st.integers(min_value=0, max_value=40)),
    min_size=0,
    max_size=10,
)


@given(
    pts=range_points,
    ivs=range_intervals,
    w=st.sampled_from([1.0, 7.0, 100.0]),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bucketized_range_join_property(spark, pts, ivs, w):
    """B65 on arbitrary inputs: negative values, zero-width intervals,
    duplicate points, overlapping intervals, and bucket widths from
    finer-than-interval to coarser-than-domain must all reproduce the
    brute-force match multiset exactly once per (point, interval)."""
    from etl_spark_eks_spark.operators.joins import bucketized_range_join

    pdf = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(pts)], "pid long, x double"
    )
    rdf = spark.createDataFrame(
        [(j, float(lo), float(lo + width)) for j, (lo, width) in enumerate(ivs)],
        "rid long, lo double, hi double",
    )
    got = sorted(
        (r["pid"], r["rid"])
        for r in bucketized_range_join(pdf, rdf, "x", "lo", "hi", w).collect()
    )
    want = sorted(
        (i, j)
        for i, p in enumerate(pts)
        for j, (lo, width) in enumerate(ivs)
        if lo <= p <= lo + width
    )
    assert got == want


filter_ops = st.sampled_from([">", ">=", "<", "<=", "=", "<>"])
micro_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=5),
              st.integers(min_value=-100, max_value=100)),
    min_size=0,
    max_size=40,
)


@given(rows=micro_rows, op1=filter_ops, c1=st.integers(-100, 100),
       op2=filter_ops, c2=st.integers(-100, 100))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_filter_agg_differential_vs_duckdb(spark, rows, op1, c1, op2, c2):
    """Differential fuzz of the filter->groupBy-aggregate core: a random
    conjunctive integer predicate + SUM/COUNT/MIN/MAX per key must
    agree with DuckDB on the same rows — the same gate the driver
    applies to fixture queries, driven across generated inputs."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["k", "v"]).astype("int64")
    sql = (
        f"SELECT k, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s, "
        f"MIN(v) AS lo, MAX(v) AS hi FROM t "
        f"WHERE v {op1} {c1} AND v {op2} {c2} GROUP BY k"
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    con.close()
    df = spark.createDataFrame(pdf.itertuples(index=False), "k long, v long") \
        if len(pdf) else spark.createDataFrame([], "k long, v long")
    df.createOrReplaceTempView("t")
    got = sorted(tuple(r) for r in spark.sql(sql).collect())
    assert got == want


grouped_weights = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # group
        st.integers(min_value=0, max_value=500),   # id (may collide -> filtered)
        st.integers(min_value=0, max_value=50),    # weight
    ),
    min_size=1,
    max_size=40,
)


@given(rows=grouped_weights, bucket=st.sampled_from([1, 7, 64, 1000]))
@_settings
def test_partitioned_prefix_sum_property(spark, rows, bucket):
    """The partitioned two-phase prefix sum (C45's engine) must equal
    the naive per-group cumulative sum for arbitrary group/id/weight
    triples and any bucket size. Duplicate (group, id) pairs are
    deduped first (the helper's contract is unique ids per group)."""
    from etl_spark_eks_spark.operators.sampling import running_total_before

    seen, uniq = set(), []
    for g, i, w in rows:
        if (g, i) not in seen:
            seen.add((g, i))
            uniq.append((g, i, w))
    df = spark.createDataFrame(uniq, "g int, id long, w long")
    expect = {}
    for g in {r[0] for r in uniq}:
        run = 0
        for _, i, w in sorted(r for r in uniq if r[0] == g):
            expect[(g, i)] = run
            run += w
    got = {
        (r["g"], r["id"]): r["__cum_before"]
        for r in running_total_before(
            df, "id", "w", bucket, partition_cols=("g",)
        ).collect()
    }
    assert got == expect


merge_base = st.lists(
    st.tuples(st.integers(min_value=0, max_value=15),
              st.integers(min_value=0, max_value=100)),
    min_size=0, max_size=12, unique_by=lambda t: t[0],
)
merge_changes = st.lists(
    st.tuples(st.integers(min_value=0, max_value=20),
              st.integers(min_value=0, max_value=100),
              st.sampled_from(["U", "D", "I"])),
    min_size=0, max_size=12, unique_by=lambda t: t[0],
)


@given(base=merge_base, changes=merge_changes)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_upsert_matches_bruteforce(spark, base, changes):
    """B87 on arbitrary generated base/change tables — including
    changes whose key is absent from base (U/D no-ops that a naive
    three-branch plan can mishandle) and I ops colliding with existing
    keys. Contract per key: matched D drops, matched U (or I on an
    existing key — an upsert) takes the new value as 'updated',
    unmatched I appends as 'inserted', unmatched U/D vanish, untouched
    base rows survive as 'kept'."""
    from etl_spark_eks_spark.operators.joins import merge_upsert

    bdf = spark.createDataFrame(
        [(int(k), float(v)) for k, v in base] or [],
        "key long, val double",
    )
    cdf = spark.createDataFrame(
        [
            (int(k), None if op == "D" else float(v), op)
            for k, v, op in changes
        ] or [],
        "k long, new_price double, op string",
    )
    got = {
        r["key"]: (r["val"], r["action"])
        for r in merge_upsert(bdf, cdf, "key", "val").collect()
    }

    bmap = dict(base)
    cmap = {k: (v, op) for k, v, op in changes}
    want = {}
    for k, v in bmap.items():
        if k in cmap:
            nv, op = cmap[k]
            if op == "D":
                continue
            # matched U and matched I both take the new value and
            # label 'updated' (I on an existing key is an upsert)
            want[k] = (float(nv), "updated")
        else:
            want[k] = (float(v), "kept")
    for k, (nv, op) in cmap.items():
        if k not in bmap and op == "I":
            want[k] = (float(nv), "inserted")
    assert got == want, f"merge mismatch: got={got} want={want}"


pct_values = st.lists(
    st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=40
)


@given(vals=pct_values)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_percentile_matches_numpy(spark, vals):
    """B88's precision contract on arbitrary value sets: Spark's exact
    `percentile` must equal numpy's linear-interpolation percentile
    (the percentile_cont definition) at 0.25/0.5/0.75/0.95 — including
    1-element lists, all-duplicates, and negative values. This is the
    property C31's sketch variant explicitly trades away."""
    import numpy as np

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    row = df.agg(
        *[
            F.percentile("v", F.lit(p)).alias(f"p{int(p*100)}")
            for p in (0.25, 0.5, 0.75, 0.95)
        ]
    ).collect()[0]
    arr = np.array(vals, dtype="float64")
    for p in (25, 50, 75, 95):
        want = float(np.percentile(arr, p, method="linear"))
        assert abs(row[f"p{p}"] - want) < 1e-9, (p, row[f"p{p}"], want)


@given(a=keys, b=keys)
@_settings
def test_multiset_ops_match_counter(spark, a, b):
    """B90's bag semantics on arbitrary multisets: intersectAll keeps
    min(m, n) copies per key and exceptAll keeps max(m - n, 0) —
    checked against collections.Counter, including empty sides and
    keys present only on one side."""
    from collections import Counter

    da, db = _df(spark, a), _df(spark, b)
    ca, cb = Counter(a), Counter(b)
    inter = Counter(r["k"] for r in da.intersectAll(db).collect())
    assert inter == (ca & cb)
    diff = Counter(r["k"] for r in da.exceptAll(db).collect())
    assert diff == (ca - cb)


nullable_keys = st.lists(
    st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
    min_size=0,
    max_size=25,
)


@given(a=nullable_keys, b=nullable_keys)
@_settings
def test_null_safe_join_matches_bruteforce(spark, a, b):
    """B104's `<=>` semantics against a brute-force pair count: the
    NULL<=>NULL bucket must contribute exactly len(a_nulls)*len(b_nulls)
    matches, while a plain `=` join drops every NULL-keyed row — the
    two claims q_b104's fabricate-then-audit design rests on."""
    adf = spark.createDataFrame([(x,) for x in a], "k int").alias("a")
    bdf = spark.createDataFrame([(x,) for x in b], "k int").alias("b")

    want_nullsafe = sum(
        1 for x in a for y in b if (x is None and y is None) or x == y
    )
    want_plain = sum(
        1 for x in a for y in b
        if x is not None and y is not None and x == y
    )

    got_nullsafe = adf.join(
        bdf, F.col("a.k").eqNullSafe(F.col("b.k"))
    ).count()
    got_plain = adf.join(bdf, F.col("a.k") == F.col("b.k")).count()

    assert got_nullsafe == want_nullsafe
    assert got_plain == want_plain
    # the delta is exactly the NULL bucket's cross product
    n_null_a = sum(1 for x in a if x is None)
    n_null_b = sum(1 for y in b if y is None)
    assert got_nullsafe - got_plain == n_null_a * n_null_b


running_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # user
        st.integers(min_value=0, max_value=10),   # ts (ties common)
        st.integers(min_value=0, max_value=4),    # event_type
    ),
    min_size=0,
    max_size=30,
)


@given(rows=running_events)
@_settings
def test_running_distinct_rewrite_matches_bruteforce(spark, rows):
    """B105's first-occurrence-flag + running-SUM rewrite must equal a
    brute-force per-prefix distinct count on arbitrary event sets —
    including ts ties, where both the rewrite and the brute force
    order by (ts, event_id) so attribution is deterministic."""
    from pyspark.sql import Window

    data = [
        (i, int(u), int(ts), f"t{et}") for i, (u, ts, et) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, user_id long, ts long, event_type string"
    )

    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    got = {
        r["event_id"]: r["d"]
        for r in df.withColumn(
            "is_first", (F.row_number().over(w_first) == 1).cast("long")
        )
        .select("event_id", F.sum("is_first").over(w_run).alias("d"))
        .collect()
    }

    # brute force: per user, walk (ts, event_id)-sorted prefix
    from collections import defaultdict

    by_user = defaultdict(list)
    for eid, u, ts, et in data:
        by_user[u].append((ts, eid, et))
    want = {}
    for u, evs in by_user.items():
        seen = set()
        for ts, eid, et in sorted(evs):
            seen.add(et)
            want[eid] = len(seen)
    assert got == want


join_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=4)),  # key
        st.integers(min_value=-9, max_value=9),                        # payload
    ),
    min_size=0,
    max_size=15,
)


@given(l=join_rows, r=join_rows,
       how=st.sampled_from(["inner", "left", "right", "full", "semi", "anti"]))
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_join_type_differential_vs_duckdb(spark, l, r, how):
    """Differential fuzz of every join type against DuckDB on generated
    tables WITH NULL keys — pins the full join-semantics matrix the
    B8-B11 operators rely on: NULL keys never match under `=` in any
    type, outer padding appears exactly where SQL says, semi/anti are
    existence tests (no duplication from multiple matches)."""
    import duckdb
    import pandas as pd

    ldf = pd.DataFrame(l, columns=["k", "a"]).astype({"a": "int64"})
    rdf = pd.DataFrame(r, columns=["k", "b"]).astype({"b": "int64"})
    sql_how = {
        "inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN",
        "full": "FULL OUTER JOIN", "semi": "SEMI JOIN", "anti": "ANTI JOIN",
    }[how]
    if how in ("semi", "anti"):
        sql = f"SELECT l.k, l.a FROM l {sql_how} r ON l.k = r.k"
    else:
        sql = f"SELECT l.k AS lk, l.a, r.k AS rk, r.b FROM l {sql_how} r ON l.k = r.k"
    def canon(rows):
        return sorted(
            (tuple(None if v is None or pd.isna(v) else int(v) for v in row)
             for row in rows),
            key=lambda t: tuple((v is None, v or 0) for v in t),
        )

    con = duckdb.connect()
    con.register("l", ldf)
    con.register("r", rdf)
    want = canon(con.execute(sql).fetchall())
    con.close()

    schema_l, schema_r = "k int, a long", "k int, b long"
    sl = spark.createDataFrame(l, schema_l) \
        if l else spark.createDataFrame([], schema_l)
    sr = spark.createDataFrame(r, schema_r) \
        if r else spark.createDataFrame([], schema_r)
    spark_how = {"semi": "left_semi", "anti": "left_anti"}.get(how, how)
    joined = sl.alias("l").join(
        sr.alias("r"), F.col("l.k") == F.col("r.k"), spark_how
    )
    if how in ("semi", "anti"):
        out = joined.select(F.col("l.k"), F.col("l.a"))
    else:
        out = joined.select(
            F.col("l.k").alias("lk"), F.col("l.a"),
            F.col("r.k").alias("rk"), F.col("r.b"),
        )
    got = canon(tuple(row) for row in out.collect())
    assert got == want


win_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # partition key
        st.integers(min_value=0, max_value=5),    # order key (ties common)
        st.integers(min_value=-9, max_value=9),   # value
    ),
    min_size=0,
    max_size=20,
)


@given(rows=win_rows)
@_settings
def test_window_functions_differential_vs_duckdb(spark, rows):
    """Differential fuzz of the window core (rank, dense_rank, running
    sum, lag) against DuckDB on generated partitions with heavy order
    ties — row identity disambiguates (id in the ORDER BY), so every
    function is deterministic and must agree exactly."""
    import duckdb
    import pandas as pd

    data = [(i, k, o, v) for i, (k, o, v) in enumerate(rows)]
    pdf = pd.DataFrame(data, columns=["id", "k", "o", "v"]).astype("int64")
    sql = """
    SELECT id,
           RANK() OVER w AS rk,
           DENSE_RANK() OVER (PARTITION BY k ORDER BY o) AS drk,
           CAST(SUM(v) OVER w AS BIGINT) AS run,
           LAG(v) OVER w AS prev
    FROM t WINDOW w AS (PARTITION BY k ORDER BY o, id
                        ROWS UNBOUNDED PRECEDING)
    """
    con = duckdb.connect()
    con.register("t", pdf)
    want = {r[0]: r[1:] for r in con.execute(sql).fetchall()}
    con.close()

    schema = "id long, k long, o long, v long"
    df = spark.createDataFrame(data, schema) \
        if data else spark.createDataFrame([], schema)
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("o", "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_ord = Window.partitionBy("k").orderBy("o", "id")
    w_ties = Window.partitionBy("k").orderBy("o")
    out = df.select(
        "id",
        F.rank().over(w_ord).alias("rk"),
        F.dense_rank().over(w_ties).alias("drk"),
        F.sum("v").over(w).alias("run"),
        F.lag("v").over(w_ord).alias("prev"),
    )
    got = {r["id"]: (r["rk"], r["drk"], r["run"], r["prev"]) for r in out.collect()}
    assert got == want


rollup_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=2)),  # a
        st.one_of(st.none(), st.integers(min_value=0, max_value=2)),  # b
        st.integers(min_value=-9, max_value=9),                       # v
    ),
    min_size=0,
    max_size=20,
)


@given(rows=rollup_rows.filter(lambda r: len(r) > 0),
       mode=st.sampled_from(["ROLLUP", "CUBE"]))
@_settings
def test_rollup_cube_differential_vs_duckdb(spark, rows, mode):
    """Differential fuzz of ROLLUP/CUBE with NULL-valued group keys —
    the classic cross-engine hazard: subtotal rows use NULL as the
    'all' marker, so natural NULL keys are only distinguishable via
    GROUPING(). Both engines must agree on every (a, b, grouping_id,
    count, sum) tuple, natural NULLs included.

    Discovered divergence, excluded by the generator and recorded
    here: on EMPTY input DuckDB emits the grand-total grouping set as
    one (NULL, NULL, 3, 0, NULL) row (SQL-standard `GROUP BY ()`
    yields one row over zero rows) while Spark's ROLLUP/CUBE returns
    an empty result. None of this repo's oracle queries aggregate a
    possibly-empty relation through grouping sets, so no operator is
    exposed; any future one must pin one semantic explicitly."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["a", "b", "v"])
    sql = f"""
    SELECT a, b,
           CAST(GROUPING(a) * 2 + GROUPING(b) AS BIGINT) AS gid,
           COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s
    FROM t GROUP BY {mode}(a, b)
    """
    con = duckdb.connect()
    con.register("t", pdf)
    want = sorted(
        (tuple(None if v is None or pd.isna(v) else int(v) for v in r)
         for r in con.execute(sql).fetchall()),
        key=lambda t: tuple((x is None, x or 0) for x in t),
    )
    con.close()

    schema = "a int, b int, v long"
    df = spark.createDataFrame(rows, schema) \
        if rows else spark.createDataFrame([], schema)
    df.createOrReplaceTempView("t")
    got = sorted(
        (tuple(None if v is None else int(v) for v in r)
         for r in spark.sql(sql).collect()),
        key=lambda t: tuple((x is None, x or 0) for x in t),
    )
    assert got == want


page_rows = st.lists(
    st.tuples(st.integers(min_value=-20, max_value=20)),
    min_size=0,
    max_size=25,
)


@given(rows=page_rows, n=st.integers(min_value=0, max_value=10),
       k=st.integers(min_value=0, max_value=10))
@_settings
def test_limit_offset_pagination_differential(spark, rows, n, k):
    """B114's pagination contract fuzzed: under a TOTAL order (value
    then unique id), LIMIT k OFFSET n must return exactly the Python
    slice sorted[n:n+k] — every page boundary, including past-the-end
    offsets and k=0."""
    data = [(i, v[0]) for i, v in enumerate(rows)]
    schema = "id long, v long"
    df = spark.createDataFrame(data, schema) \
        if data else spark.createDataFrame([], schema)
    got = [
        (r["id"], r["v"])
        for r in df.orderBy("v", "id").offset(n).limit(k).collect()
    ]
    want = sorted(((i, v) for i, v in data), key=lambda t: (t[1], t[0]))[
        n : n + k
    ]
    assert got == want


nullable_grouped = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),                       # group
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)), # value
    ),
    min_size=0,
    max_size=25,
)


@given(rows=nullable_grouped)
@_settings
def test_count_distinct_nulls_differential_vs_duckdb(spark, rows):
    """COUNT(DISTINCT) / COUNT(col) / COUNT(*) NULL semantics per group
    must agree with DuckDB on generated data: DISTINCT and COUNT(col)
    skip NULLs, COUNT(*) does not — the exact contract B18's operator
    and every audit query in the suite lean on."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["g", "v"])
    sql = """
    SELECT g, COUNT(DISTINCT v) AS d, COUNT(v) AS c, COUNT(*) AS n
    FROM t GROUP BY g
    """
    con = duckdb.connect()
    con.register("t", pdf)
    want = sorted(tuple(int(x) for x in r) for r in con.execute(sql).fetchall())
    con.close()
    schema = "g long, v int"
    df = spark.createDataFrame(rows, schema) \
        if rows else spark.createDataFrame([], schema)
    df.createOrReplaceTempView("t")
    got = sorted(tuple(int(x) for x in r) for r in spark.sql(sql).collect())
    assert got == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 5),
                  st.integers(-100, 100)),
        min_size=1, max_size=40,
    )
)
def test_mode_median_maxby_deterministic_tiebreak(spark, rows):
    """B115: Spark's mode(col, deterministic=True) must equal the
    count/row_number rewrite (lowest value among tied frequencies),
    and max_by over a struct(ord, key) must equal the sort-based
    argmax with the same tie-break — on tie-heavy generated groups
    where a bare nondeterministic aggregate would flip."""
    from collections import Counter

    df = spark.createDataFrame(
        [(g, v, k) for g, v, k in rows], "g int, v int, k int"
    )
    got = {
        r["g"]: (r["m"], r["am"])
        for r in df.groupBy("g")
        .agg(
            F.mode("v", True).alias("m"),
            F.max_by("k", F.struct("v", "k")).alias("am"),
        )
        .collect()
    }
    by_g: dict[int, list[tuple[int, int]]] = {}
    for g, v, k in rows:
        by_g.setdefault(g, []).append((v, k))
    for g, pairs in by_g.items():
        cnt = Counter(v for v, _ in pairs)
        best = max(cnt.values())
        expect_mode = min(v for v, c in cnt.items() if c == best)
        expect_argmax = max(pairs)[1]
        assert got[g] == (expect_mode, expect_argmax), (
            f"group {g}: got {got[g]}, "
            f"expected {(expect_mode, expect_argmax)}"
        )


# --- prefix-sum family fuzz (round 6): both variants vs brute force ---

_ps_rows = st.lists(
    st.tuples(
        st.integers(min_value=-(10**12), max_value=10**12),  # sparse key
        st.integers(min_value=0, max_value=1000),            # weight
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],  # unique ids (both variants' precondition)
)


@given(rows=_ps_rows)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_prefix_sum_variants_match_bruteforce(spark, rows):
    """running_total_before (bucketed window) and
    running_total_before_range (range-partitioned mapInPandas carry)
    must both equal the sequential brute force — sum of weights over
    strictly-smaller keys — on ARBITRARY sparse/negative keys. The
    bucket variant's dense-key requirement is about the SERIAL-step
    size, never correctness, so both must agree everywhere."""
    from etl_spark_eks_spark.operators.sampling import (
        running_total_before,
        running_total_before_range,
    )

    df = spark.createDataFrame(rows, "k long, w long")
    expect = {}
    for k, _ in rows:
        expect[k] = float(sum(w2 for k2, w2 in rows if k2 < k))
    got_b = {
        r["k"]: float(r["__cum_before"])
        for r in running_total_before(df, "k", "w", bucket_size=1000).collect()
    }
    got_r = {
        r["k"]: float(r["__cum_before"])
        for r in running_total_before_range(
            df, "k", "w", num_partitions=4
        ).collect()
    }
    assert got_b == expect
    assert got_r == expect


@given(
    wh=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=255),
            st.integers(min_value=1, max_value=255),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=50, deadline=None)
def test_aspect_bucket_integer_argmin_is_exact(wh):
    """M13: the BIGINT cross-multiplied rung argmin must equal the
    exact rational argmin |w/h - bw/bh| (Fraction arithmetic), with
    ladder-order tiebreak — for every (w, h). This is the no-float
    claim the operator's docstring makes, checked independently of
    Spark and DuckDB."""
    from fractions import Fraction

    from etl_spark_eks_spark.operators.multimodal import (
        _AR_LADDER,
        _AR_LCM,
    )

    for w, h in wh:
        int_keys = [
            (abs(w * bh - h * bw) * (_AR_LCM // bh), i)
            for i, (bw, bh) in enumerate(_AR_LADDER)
        ]
        exact_keys = [
            (abs(Fraction(w, h) - Fraction(bw, bh)), i)
            for i, (bw, bh) in enumerate(_AR_LADDER)
        ]
        assert min(int_keys)[1] == min(exact_keys)[1]


@given(
    n=st.integers(min_value=1, max_value=2000),
)
@settings(max_examples=60, deadline=None)
def test_ntile_formula_matches_row_number_semantics(n):
    """C92: the closed-form rank->tile mapping (first n%3 tiles get
    one extra row) must reproduce NTILE(3) exactly for every group
    size — checked against the spec enumeration: tile sizes are
    ceil(n/3) for the first n%3 tiles, floor(n/3) after."""
    k = 3
    q, r = divmod(n, k)
    big = r * (q + 1)

    def tile(rank: int) -> int:
        if rank <= big:
            return (rank - 1) // (q + 1) + 1
        return r + (rank - 1 - big) // max(q, 1) + 1

    sizes = {}
    for rank in range(1, n + 1):
        t = tile(rank)
        sizes[t] = sizes.get(t, 0) + 1
        assert 1 <= t <= min(k, n)
    # NTILE spec: first r tiles have q+1 rows, the rest q
    for t, sz in sizes.items():
        assert sz == (q + 1 if t <= r else q)
    # tiles are assigned in rank order (monotone non-decreasing)
    tiles = [tile(x) for x in range(1, n + 1)]
    assert tiles == sorted(tiles)


def test_intradoc_dedup_planted_stutter(spark):
    """C93: a planted self-stuttering document (its 2-token segments
    repeated verbatim) must be rewritten to exactly one copy of each
    segment, first-occurrence order preserved; a repeat-free doc must
    pass through unchanged."""
    from etl_spark_eks_spark.operators.dedup import _INTRA_SEG

    assert _INTRA_SEG == 2  # fixture calibration the test plants for
    stutter = "a b c d a b e f a b"  # segs: ab cd ab ef ab
    clean = "p q r s t u"            # segs: pq rs tu, no repeats
    df = spark.createDataFrame(
        [(1, stutter, "en", "src0", len(stutter)),
         (2, clean, "en", "src0", len(clean))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        from etl_spark_eks_spark import registry

        out = {
            r["doc_id"]: r
            for r in registry.QUERIES["q_c93_intradoc_dedup"](
                spark, d
            ).collect()
        }
    assert out[1]["n_segments"] == 5 and out[1]["n_unique"] == 3
    assert out[1]["new_text"] == "a b c d e f"
    assert out[2]["n_segments"] == 3 and out[2]["n_unique"] == 3
    assert out[2]["new_text"] == clean


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=1,
                   max_size=5),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_closed_form_tile_matches_spark_ntile(spark, sizes):
    """C92 differential: the closed-form rank->tile mapping must equal
    Spark's own ntile(3) window on arbitrary group sizes — the
    engine-internal check that the distributed rewrite IS NTILE."""
    rows = [
        (g, i + 1)
        for g, n in enumerate(sizes)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "grp int, rank long")
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("rank")
    expected = {
        (r["grp"], r["rank"]): r["nt"]
        for r in df.select(
            "grp", "rank", F.ntile(3).over(w).alias("nt")
        ).collect()
    }
    n_by_grp = {g: n for g, n in enumerate(sizes)}
    for (g, rank), nt in expected.items():
        n = n_by_grp[g]
        q, r = divmod(n, 3)
        big = r * (q + 1)
        if rank <= big:
            tile = (rank - 1) // (q + 1) + 1
        else:
            tile = r + (rank - 1 - big) // max(q, 1) + 1
        assert tile == nt, (n, rank, tile, nt)


@given(
    a=st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 5)),
                  st.integers(-100, 100)),
        max_size=25,
    ),
    b=st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 5)),
                  st.text(alphabet="xyz", max_size=2)),
        max_size=25,
    ),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_join_strategies_invariant_under_nulls(spark, a, b):
    """B136's contract, fuzzed: broadcast / merge / shuffle_hash must
    produce IDENTICAL inner-join results on arbitrary inputs,
    including NULL keys (which match nothing in every strategy).
    A strategy that mishandled NULL keys or duplicated rows would
    diverge here."""
    da = spark.createDataFrame(a, "k int, v int") if a else \
        spark.createDataFrame([], "k int, v int")
    db = spark.createDataFrame(b, "k int, w string") if b else \
        spark.createDataFrame([], "k int, w string")
    outs = []
    for strat in ("broadcast", "merge", "shuffle_hash"):
        rows = sorted(
            (r["k"], r["v"], r["w"])
            for r in da.join(db.hint(strat), "k").collect()
        )
        outs.append(rows)
    assert outs[0] == outs[1] == outs[2]


def test_content_digest_mergeable_and_order_free(spark, sf_dir):
    """B142's design claims, tested directly: (1) MERGEABILITY — the
    whole-table digest equals the integer sum of the digests of any
    disjoint split (what lets a 100 TB audit combine per-shard
    partials); (2) ORDER-FREEDOM — digesting a reshuffled copy yields
    the identical fingerprint."""
    from pyspark.sql import functions as F

    from etl_spark_eks_spark import registry
    from etl_spark_eks_spark.catalog import load_table

    registry.load_all()
    full = {
        r["source"]: (int(r["digest"]), r["n_rows"])
        for r in registry.QUERIES["q_b142_content_digest"](
            spark, sf_dir
        ).collect()
    }
    # (1) the ROLLUP total must equal the sum of the per-source parts
    parts = {k: v for k, v in full.items() if k != "__ALL__"}
    assert full["__ALL__"][0] == sum(d for d, _ in parts.values())
    assert full["__ALL__"][1] == sum(n for _, n in parts.values())
    # (2) same digest from a deliberately reshuffled, re-partitioned copy
    d = load_table(spark, sf_dir, "documents")
    sep = F.lit("\x1f")
    row = F.concat(
        F.col("doc_id").cast("string"), sep, F.col("lang"), sep,
        F.col("source"), sep, F.col("n_chars").cast("string"), sep,
        F.col("text"),
    )
    h = (
        F.conv(F.substring(F.md5(row), 1, 12), 16, 10)
        .cast("bigint")
        .cast("decimal(38,0)")
    )
    shuffled = (
        d.orderBy(F.xxhash64("text"))
        .repartition(7)
        .agg(F.sum(h).cast("string").alias("digest"))
        .first()["digest"]
    )
    assert int(shuffled) == full["__ALL__"][0]


def test_substring_surgery_consistent_with_span_report(spark, sf_dir):
    """C96/C102 cross-operator consistency: for every affected doc the
    surgery's n_removed must equal the report's dup_tokens, and the
    rebuilt text must contain exactly n_tokens_before - n_removed
    whitespace tokens — the two operators are views of one span set."""
    from etl_spark_eks_spark import registry

    registry.load_all()
    report = {
        r["doc_id"]: r
        for r in registry.QUERIES["q_c96_exact_substring_spans"](
            spark, sf_dir
        ).collect()
    }
    surgery = {
        r["doc_id"]: r
        for r in registry.QUERIES["q_c102_substring_span_surgery"](
            spark, sf_dir
        ).collect()
    }
    assert set(report) == set(surgery) and report
    for doc_id, rep in report.items():
        sur = surgery[doc_id]
        assert sur["n_removed"] == rep["dup_tokens"], doc_id
        assert sur["n_tokens_before"] == rep["n_tokens"], doc_id
        kept = [t for t in sur["text_clean"].split(" ") if t]
        assert len(kept) == rep["n_tokens"] - rep["dup_tokens"], doc_id


def test_b157_tablesample_repeatable_is_deterministic(spark, sf_dir):
    """B157's contract, checked both through the query's own verdicts
    (round 11: the official output IS the verified contract — n_total
    plus repeatability/mass booleans) and directly on the underlying
    TABLESAMPLE: REPEATABLE(seed) gives the SAME sample on rerun
    (fixed file layout), the sample is a subset of the table, and the
    draw is a plausible 10% (binomial 5-sigma bounds)."""
    from etl_spark_eks_spark import registry

    registry.load_all()
    q = registry.QUERIES["q_b157_tablesample_repeatable"]
    row = q(spark, sf_dir).collect()[0]
    assert row["samples_identical"] and row["sample_frac_ok"]

    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "b157_orders_t"
    )
    sample_sql = """
        SELECT o_orderkey FROM b157_orders_t
        TABLESAMPLE (10 PERCENT) REPEATABLE (42)
        """
    a = sorted(r["o_orderkey"] for r in spark.sql(sample_sql).collect())
    b = sorted(r["o_orderkey"] for r in spark.sql(sample_sql).collect())
    assert a == b, "REPEATABLE seed must reproduce the sample"
    full = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey")
        .toPandas()["o_orderkey"]
    )
    assert set(a) <= set(full)
    assert row["n_total"] == len(full)
    n, p = len(full), 0.10
    mean, sigma = n * p, (n * p * (1 - p)) ** 0.5
    assert abs(len(a) - mean) <= 5 * sigma + 1, (len(a), mean, sigma)


nullable_keys = st.lists(
    st.one_of(st.none(), st.integers(min_value=0, max_value=8)),
    min_size=0,
    max_size=15,
)


@given(outer=keys, probe=nullable_keys)
@_settings
def test_not_in_vs_not_exists_differential(spark, outer, probe):
    """B169's semantics fuzzed: for ANY outer set and ANY probe set
    (NULLs included), Spark's NOT IN and NOT EXISTS must each match
    DuckDB's — and whenever the probe contains a NULL, NOT IN must
    return the empty set (ANSI three-valued logic), while NOT EXISTS
    returns the true complement."""
    import duckdb
    import pandas as pd

    odf = pd.DataFrame({"k": pd.Series(outer, dtype="int64")})
    pdf = pd.DataFrame({"p": pd.Series(probe, dtype="object")})
    con = duckdb.connect()
    con.register("o", odf)
    con.register("p", pdf)
    want_not_in = sorted(
        r[0] for r in con.execute(
            "SELECT k FROM o WHERE k NOT IN (SELECT p FROM p)"
        ).fetchall()
    )
    want_not_exists = sorted(
        r[0] for r in con.execute(
            "SELECT k FROM o WHERE NOT EXISTS "
            "(SELECT 1 FROM p WHERE p.p = o.k)"
        ).fetchall()
    )
    con.close()

    so = (
        spark.createDataFrame([(int(x),) for x in outer], "k long")
        if outer else spark.createDataFrame([], "k long")
    )
    sp = (
        spark.createDataFrame(
            [(None if x is None else int(x),) for x in probe], "p long"
        )
        if probe else spark.createDataFrame([], "p long")
    )
    so.createOrReplaceTempView("fuzz_o")
    sp.createOrReplaceTempView("fuzz_p")
    got_not_in = sorted(
        r["k"] for r in spark.sql(
            "SELECT k FROM fuzz_o WHERE k NOT IN (SELECT p FROM fuzz_p)"
        ).collect()
    )
    got_not_exists = sorted(
        r["k"] for r in spark.sql(
            "SELECT k FROM fuzz_o WHERE NOT EXISTS "
            "(SELECT 1 FROM fuzz_p WHERE fuzz_p.p = fuzz_o.k)"
        ).collect()
    )
    assert got_not_in == want_not_in
    assert got_not_exists == want_not_exists
    if any(x is None for x in probe):
        assert got_not_in == []  # the trap B169 pins


@given(rows=win_rows)
@_settings
def test_lateral_limit_equals_window_topk(spark, rows):
    """B170's equivalence fuzzed: per group, the correlated LATERAL
    ORDER BY/LIMIT k result must equal the ROW_NUMBER <= k window
    desugaring under the same total order, for arbitrary tie-heavy
    inputs."""
    df = (
        spark.createDataFrame(rows, "g int, o int, v int")
        if rows else spark.createDataFrame([], "g int, o int, v int")
    )
    df.createOrReplaceTempView("fuzz_t")
    lateral = spark.sql(
        """
        SELECT s.g, t.o, t.v
        FROM (SELECT DISTINCT g FROM fuzz_t) s,
        LATERAL (SELECT o, v FROM fuzz_t i WHERE i.g = s.g
                 ORDER BY o DESC, v DESC LIMIT 2) t
        """
    ).collect()
    window = spark.sql(
        """
        SELECT g, o, v FROM (
          SELECT g, o, v,
                 ROW_NUMBER() OVER (PARTITION BY g
                                    ORDER BY o DESC, v DESC) AS rn
          FROM fuzz_t
        ) WHERE rn <= 2
        """
    ).collect()
    canon = lambda rs: sorted((r["g"], r["o"], r["v"]) for r in rs)
    assert canon(lateral) == canon(window)


tok_counts = st.lists(
    st.integers(min_value=0, max_value=40), min_size=0, max_size=25
)


@given(counts=tok_counts, chunk=st.sampled_from([4, 7, 16]))
@_settings
def test_chunk_map_matches_bruteforce(spark, counts, chunk):
    """C110's span arithmetic fuzzed against a Python brute force: for
    arbitrary doc token counts and chunk sizes, the (chunk, doc) span
    table must equal walking the concatenated stream token by token."""
    from pyspark.sql import functions as F

    rows = [(i, n) for i, n in enumerate(counts) if n > 0]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, n long")
    # the operator's arithmetic, at parameterized chunk size
    from etl_spark_eks_spark.operators.sampling import running_total_before

    pos = running_total_before(df, "doc_id", "n").withColumnRenamed(
        "__cum_before", "cb"
    )
    got = {
        (r["chunk_id"], r["doc_id"]): (r["s"], r["e"])
        for r in pos.select(
            "doc_id", "n", "cb",
            F.explode(
                F.sequence(
                    F.expr(f"cb div {chunk}"),
                    F.expr(f"(cb + n - 1) div {chunk}"),
                )
            ).alias("chunk_id"),
        ).select(
            "chunk_id", "doc_id",
            F.greatest(F.col("cb") - F.col("chunk_id") * chunk, F.lit(0))
            .alias("s"),
            F.least(
                F.col("cb") + F.col("n") - F.col("chunk_id") * chunk,
                F.lit(chunk),
            ).alias("e"),
        ).collect()
    }
    # brute force: walk the stream
    want = {}
    off = 0
    for i, n in rows:
        for t in range(n):
            c, p = (off + t) // chunk, (off + t) % chunk
            s, e = want.get((c, i), (p, p))
            want[(c, i)] = (min(s, p), max(e, p + 1))
        off += n
    assert got == want


@given(texts=st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                      min_size=0, max_size=20))
@_settings
def test_cluster_weighted_sample_matches_hashlib(spark, texts):
    """C117's keep rule fuzzed against hashlib: for arbitrary corpora
    with duplicate texts, the kept set must be exactly
    {doc : permille_md5(doc_id) * cluster_size < 1000}."""
    import hashlib
    from collections import Counter

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.operators.sampling import hash_bucket

    if not texts:
        return
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    w = Window.partitionBy(F.md5("text"))
    got = {
        r["doc_id"]
        for r in df.select(
            "doc_id",
            F.count("*").over(w).alias("sz"),
            hash_bucket(F.col("doc_id"), 1000).alias("b"),
        )
        .filter(F.col("b") * F.col("sz") < 1000)
        .collect()
    }
    sizes = Counter(texts)
    want = set()
    for i, t in enumerate(texts):
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1000
        if b * sizes[t] < 1000:
            want.add(i)
    assert got == want


@given(
    members=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),   # shard
                  st.integers(min_value=0, max_value=200), # offset
                  st.integers(min_value=1, max_value=40)), # length
        min_size=0, max_size=20,
    ),
    gap=st.sampled_from([0, 5, 25]),
)
@_settings
def test_fetch_plan_islands_match_bruteforce(spark, members, gap):
    """M17's gaps-and-islands (running-max end, not lag) fuzzed: for
    arbitrary — including NESTED — byte ranges per shard, the fetch
    groups must equal a sequential sweep merging ranges whose gap to
    the running max end is <= gap."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    uniq = {}
    for s_, o, ln in members:  # one range per (shard, offset): mirror
        uniq[(s_, o)] = ln     # tar members (offsets unique per shard)
    rows = [(s_, o, o + ln) for (s_, o), ln in uniq.items()]
    if not rows:
        return
    df = spark.createDataFrame(rows, "shard long, off long, end long")
    w_prev = (
        Window.partitionBy("shard").orderBy("off")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = (
        F.col("off")
        - F.coalesce(F.max("end").over(w_prev), F.col("off"))
        > gap
    ).cast("int")
    w_grp = (
        Window.partitionBy("shard").orderBy("off")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    got = {
        (r["shard"], r["g"], r["lo"], r["hi"], r["n"])
        for r in df.withColumn("brk", brk)
        .withColumn("g", F.sum("brk").over(w_grp))
        .groupBy("shard", "g")
        .agg(F.min("off").alias("lo"), F.max("end").alias("hi"),
             F.count("*").alias("n"))
        .collect()
    }
    want = set()
    from collections import defaultdict

    by_shard = defaultdict(list)
    for s_, o, e in rows:
        by_shard[s_].append((o, e))
    for s_, rs in by_shard.items():
        rs.sort()
        g, lo, hi, n = 0, None, None, 0
        for o, e in rs:
            if lo is None:
                lo, hi, n = o, e, 1
            elif o - hi > gap:
                want.add((s_, g, lo, hi, n))
                g, lo, hi, n = g + 1, o, e, 1
            else:
                hi, n = max(hi, e), n + 1
        want.add((s_, g, lo, hi, n))
    assert got == want


def test_misra_gries_recall_bound():
    """C124's sketch contract: for ANY stream split into partitions and
    batches, the union of per-partition Misra-Gries candidate sets
    contains every key with global frequency > n/(m+1) — the recall-1
    bound that lets the exact recount produce the oracle answer. Runs
    adversarial-ish Zipf streams at several m values and split shapes."""
    import random

    import pandas as pd

    from etl_spark_eks_spark.operators.text_analysis import (
        misra_gries_candidates,
    )

    rng = random.Random(42)
    for m in (5, 20, 99):
        for n_parts in (1, 3, 8):
            # Zipf-ish stream with a few planted heavies
            stream = []
            for i in range(4000):
                r = rng.random()
                if r < 0.25:
                    stream.append("heavy_a")
                elif r < 0.4:
                    stream.append("heavy_b")
                else:
                    stream.append(f"tail_{rng.randrange(500)}")
            rng.shuffle(stream)
            n = len(stream)
            exact: dict[str, int] = {}
            for x in stream:
                exact[x] = exact.get(x, 0) + 1
            # partition round-robin, two batches per partition
            cands: set[str] = set()
            for p in range(n_parts):
                part = stream[p::n_parts]
                half = len(part) // 2
                batches = (
                    pd.Series(part[:half]),
                    pd.Series(part[half:]),
                )
                cands |= set(misra_gries_candidates(iter(batches), m=m))
            must_catch = {k for k, f in exact.items() if f * (m + 1) > n}
            missed = must_catch - cands
            assert not missed, (m, n_parts, missed)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(list("abcdef")), min_size=1, max_size=12
        ),
        min_size=1,
        max_size=8,
    )
)
@_settings
def test_token_entropy_matches_reference(spark, texts):
    """C125's integer-count entropy (H = log2 n - sum cnt*log2 cnt / n)
    fuzzed against the textbook -sum p*log2 p computed in pure Python
    on exact counts — same bar as C124's MG recall-bound test."""
    import math
    from collections import Counter

    from etl_spark_eks_spark.operators.text_analysis import (
        token_entropy_profile,
    )

    rows = [(i, "en", " ".join(doc)) for i, doc in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_distinct"], r["entropy_bits"])
        for r in token_entropy_profile(df).collect()
    }
    assert set(got) == set(range(len(texts)))
    for i, doc in enumerate(texts):
        c = Counter(doc)
        n = len(doc)
        h = -sum((v / n) * math.log2(v / n) for v in c.values())
        n_tok, n_dis, ent = got[i]
        assert n_tok == n and n_dis == len(c)
        assert abs(ent - h) <= 1.5e-6, (i, ent, h)


@given(
    host=st.sampled_from(["Example.COM", "example.com", "EXAMPLE.com"]),
    segs=st.lists(
        st.sampled_from(["a", "b", "item", "x7"]), min_size=1, max_size=3
    ),
    idv=st.sampled_from([None, "0", "1", "42"]),
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
    slash=st.booleans(),
    utm=st.sampled_from(["", "utm_source=feed", "utm_campaign=x&ref=r"]),
)
@_settings
def test_url_canonicalization_idempotent_and_equivalence(
    spark, host, segs, idv, scheme, slash, utm
):
    """C126's canonicalizer laws: (1) IDEMPOTENCE — the canonical form
    is a fixed point of the canonicalizer; (2) EQUIVALENCE CLASS —
    every variant differing only in the normalized axes (scheme/host
    case, trailing slash, tracking params, param order) maps to the
    same canonical URL, and the canonical URL determines (host, path,
    id) exactly."""
    from etl_spark_eks_spark.operators.dedup import canonicalize_url

    path = "/" + "/".join(segs)
    qparts = [p for p in ([utm] if utm else [])]
    if idv is not None:
        qparts.append(f"id={idv}")
    variants = []
    for order in (qparts, list(reversed(qparts))):
        q = "&".join(p for p in order if p)
        variants.append(
            f"{scheme}://{host}{path}{'/' if slash else ''}"
            + (f"?{q}" if q else "")
        )
    # a DIFFERENT content id must land in a different class
    other = f"https://{host.lower()}{path}?id=999"
    df = spark.createDataFrame(
        [(u,) for u in variants + [other]], "url string"
    )
    out = df.select(
        "url", canonicalize_url(F.col("url")).alias("curl")
    ).collect()
    canon = {r["url"]: r["curl"] for r in out}
    # (2) all variants collapse to one canonical form
    cvals = {canon[u] for u in variants}
    assert len(cvals) == 1, canon
    c = cvals.pop()
    expect = f"https://{host.lower()}{path}" + (
        f"?id={idv}" if idv is not None else ""
    )
    assert c == expect
    assert canon[other] != c or idv == "999"
    # (1) idempotence: canonicalize(canonical) == canonical
    again = (
        spark.createDataFrame([(c,)], "url string")
        .select(canonicalize_url(F.col("url")).alias("curl"))
        .first()["curl"]
    )
    assert again == c


@given(
    mods=st.lists(
        st.sampled_from(["audio", "image", "video"]),
        min_size=1,
        max_size=24,
    )
)
@_settings
def test_interleave_schedule_fairness(spark, mods):
    """M19's closed-form step numbering fuzzed against a brute-force
    round-robin, plus the explicit FAIRNESS BOUND: at every schedule
    prefix, any two not-yet-exhausted modalities' served counts differ
    by at most 1 (the starvation-free guarantee the operator exists
    to provide)."""
    from collections import Counter, deque

    from etl_spark_eks_spark.operators.multimodal import (
        interleave_schedule,
    )

    rows = [(i, m) for i, m in enumerate(mods)]
    df = spark.createDataFrame(rows, "doc_id long, modality string")
    out = interleave_schedule(df).orderBy("step").collect()
    # steps are exactly 0..n-1 (a dense permutation)
    assert [r["step"] for r in out] == list(range(len(rows)))
    # brute-force reference: cycle modalities in name order
    queues = {
        m: deque(sorted(i for i, mm in rows if mm == m))
        for m in ("audio", "image", "video")
    }
    expect = []
    while any(queues.values()):
        for m in ("audio", "image", "video"):
            if queues[m]:
                expect.append((m, queues[m].popleft()))
    assert [(r["modality"], r["doc_id"]) for r in out] == expect
    # explicit fairness bound on the actual output
    total = Counter(mods)
    served: Counter = Counter()
    for r in out:
        served[r["modality"]] += 1
        alive = [
            m for m in ("audio", "image", "video")
            if served[m] < total[m]
        ]
        for a in alive:
            for b in alive:
                assert abs(served[a] - served[b]) <= 1, (served, a, b)


hash_texts = st.lists(
    st.text(
        alphabet="abcdefgh", min_size=0, max_size=6
    ),
    min_size=0,
    max_size=20,
)


@given(corpus_texts=hash_texts, batch_texts=hash_texts)
@_settings
def test_bitmap_prefilter_superset_and_exact(
    spark, corpus_texts, batch_texts
):
    """C128's bitmap contract fuzzed at m_bits = 64, where slot
    collisions are LIKELY by the birthday bound (the strategy caps the
    corpus at 20 texts, below 64 distinct hashes, so false positives
    are probabilistic rather than pigeonhole-forced — but hypothesis
    explores enough corpora to hit them): the bitmap candidate set must be
    a SUPERSET of the true duplicates (a bitmap miss is provably
    novel), and the full prefilter -> exact-confirm composition must
    equal the naive exact hash join verdict-for-verdict."""
    from etl_spark_eks_spark.operators.dedup import (
        bitmap_membership_candidates,
    )

    corpus_rows = [(i, t) for i, t in enumerate(corpus_texts)]
    batch_rows = [
        (1000 + i, t) for i, t in enumerate(batch_texts)
    ]
    schema = "doc_id long, text string"
    corpus = (
        spark.createDataFrame(corpus_rows, schema)
        if corpus_rows
        else spark.createDataFrame([], schema)
    ).select("doc_id", F.sha2("text", 256).alias("h"))
    batch = (
        spark.createDataFrame(batch_rows, schema)
        if batch_rows
        else spark.createDataFrame([], schema)
    ).select("doc_id", F.sha2("text", 256).alias("h"))

    cand = {
        r["b_doc"]
        for r in bitmap_membership_candidates(corpus, batch, 64).collect()
    }
    corpus_set = set(corpus_texts)
    true_dups = {
        did for did, t in batch_rows if t in corpus_set
    }
    # no false negatives: every true duplicate survives the bitmap
    assert true_dups <= cand, (true_dups - cand)

    # end-to-end: prefilter + exact confirm == naive exact join
    cand_df = bitmap_membership_candidates(corpus, batch, 64)
    hits = (
        corpus.join(F.broadcast(cand_df), "h")
        .groupBy("b_doc")
        .agg(F.min("doc_id").alias("match_doc_id"))
    )
    got = {
        r["b_doc"]: r["match_doc_id"] for r in hits.collect()
    }
    first_id = {}
    for did, t in corpus_rows:
        if t not in first_id:
            first_id[t] = did
    expect = {
        did: first_id[t]
        for did, t in batch_rows
        if t in first_id
    }
    assert got == expect


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=24),
        st.integers(min_value=0, max_value=24),
    ),
    min_size=0,
    max_size=40,
)


@given(edges=edge_lists)
@_settings
def test_connected_components_matches_union_find(spark, edges):
    """The contraction CC (C18/C58/C127's cluster engine) fuzzed against
    a driver-side union-find on arbitrary small graphs — self-loops,
    duplicate edges, multi-component tangles, long chains. Labels must
    be exactly the component MINIMUM for every node that appears in the
    edge list (the min-label fixpoint contract, not just a partition
    into the right groups). Both finishes are checked: the driver
    union-find and, with its edge cap at 0, the distributed loop."""
    from unittest import mock

    from etl_spark_eks_spark.operators import dedup

    if not edges:
        return
    df = spark.createDataFrame(edges, "a long, b long")
    runs = []
    for cap in (dedup._CC_LOCAL_EDGES, 0):
        with mock.patch.object(dedup, "_CC_LOCAL_EDGES", cap):
            runs.append({
                r["node"]: r["label"]
                for r in dedup.connected_components(df, "a", "b").collect()
            })

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for e in edges for x in e}
    expect = {}
    comp_min: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    for n in nodes:
        expect[n] = comp_min[find(n)]
    assert runs == [expect, expect]


doc_texts = st.lists(
    st.lists(
        st.sampled_from("abcdefghij klmnop qrstu vwx yz one two".split()),
        min_size=1,
        max_size=12,
    ).map(" ".join),
    min_size=2,
    max_size=14,
)


@given(
    texts=doc_texts,
    others=doc_texts,
    threshold=st.sampled_from([0.3, 0.6, 0.8]),
)
@_settings
def test_jaccard_near_dedup_matches_python_bruteforce(
    spark, texts, others, threshold
):
    """The set_similarity_pairs kernel behind jaccard_near_dedup (and
    every other near-dup caller) fuzzed against a pure-Python brute
    force on RANDOM documents, for every supported (measure, form,
    rung): self-join Jaccard on the mask (adaptive), prefix and
    all-pairs rungs; bipartite Jaccard (texts x others) on the mask and
    prefix rungs; directed containment on the prefix rung. The pair
    set, the pair orientation, and the exact (i, n_1, n_2) integers
    must match inside the same 20% length band (Jaccard) for arbitrary
    token overlap structure, and no call may leave a CacheManager
    entry behind."""
    from fractions import Fraction

    from etl_spark_eks_spark.operators.dedup import (
        set_similarity_pairs,
        text_signatures,
    )

    t = Fraction(threshold).limit_denominator(100)

    def sigs(docs, base):
        rows = [(base + i, d, "xx") for i, d in enumerate(docs)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )
        sets = {base + i: frozenset(d.split()) for i, d in enumerate(docs)}
        return text_signatures(df, "text", "doc_id", ["lang"]), sets

    left, ls = sigs(texts, 0)
    right, rs = sigs(others, 100)

    def brute(a_sets, b_sets, keep):
        return {
            (a, b, len(sa & sb), len(sa), len(sb))
            for a, sa in a_sets.items()
            for b, sb in b_sets.items()
            if keep(a, b, len(sa & sb), len(sa), len(sb))
        }

    def jaccard(a, b, i, na, nb):
        in_band = abs(na - nb) <= Fraction(1, 5) * max(na, nb)
        return in_band and i >= t * (na + nb - i)

    self_jac = brute(ls, ls, lambda a, b, *r: a < b and jaccard(a, b, *r))
    bip_jac = brute(ls, rs, jaccard)
    contained = brute(ls, ls, lambda a, b, i, na, nb: a != b and i >= t * na)
    jac_kw = {
        "threshold": threshold, "block_cols": ["lang"], "length_band": 0.2
    }
    contain_kw = {
        "threshold": threshold, "measure": "containment", "strategy": "prefix"
    }
    cases = [
        (self_jac, (left,), dict(jac_kw, strategy=s))
        for s in ("adaptive", "prefix", "allpairs")
    ] + [
        (bip_jac, (left, right), dict(jac_kw, strategy=s))
        for s in ("adaptive", "prefix")
    ] + [(contained, (left,), contain_kw)]
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for expect, frames, kw in cases:
        got = {tuple(r) for r in set_similarity_pairs(*frames, **kw).collect()}
        assert got == expect, (len(frames), kw, got ^ expect)
        assert cache.isEmpty(), (len(frames), kw)


band_tables = st.lists(
    st.lists(st.one_of(st.none(), st.integers(0, 3)), min_size=3, max_size=3),
    min_size=0,
    max_size=10,
)


@given(rows=band_tables, probes=band_tables, bound=st.integers(0, 6))
@_settings
def test_band_pairs_matches_python_bruteforce(spark, rows, probes, bound):
    """The band_pairs LSH kernel behind q_c8 / q_c9 / q_c73 / q_m4
    fuzzed against a pure-Python brute force on RANDOM band arrays (3
    bands over a 4-value key domain plus NULL, so most pairs collide
    somewhere, often on several bands; a NULL key matches nothing):
    self-join with and without a payload verify, a bipartite probe,
    and a one-band table. The corpus always holds a clone of its
    first row, so some pair collides in every band and must still come
    out as ONE row; an empty table must yield no pairs. No call may
    leave a CacheManager entry behind."""
    from etl_spark_eks_spark.operators.dedup import band_pairs

    rows = rows + rows[:1]

    def sigs(tables, base, n_bands=3):
        return spark.createDataFrame(
            [
                (base + i, b[:n_bands], sum(k or 0 for k in b))
                for i, b in enumerate(tables)
            ],
            "doc_id long, bands array<long>, w long",
        ).withMetadata("bands", {"n_bands": n_bands})

    def collide(x, y):
        return any(p == q and p is not None for p, q in zip(x, y))

    ids = list(enumerate(rows))
    self_pairs = {
        (i, j) for i, x in ids for j, y in ids if i < j and collide(x, y)
    }
    w = [sum(k or 0 for k in r) for r in rows]
    dist = {(i, j): abs(w[i] - w[j]) for i, j in self_pairs}
    verified = {(i, j, d) for (i, j), d in dist.items() if d <= bound}
    bipartite = {
        (100 + p, i) for p, x in enumerate(probes) for i, y in ids
        if collide(x, y)
    }
    corpus = sigs(rows, 0)
    verify = ("d", F.abs(F.col("a.w") - F.col("b.w")), bound)
    cases = [
        (self_pairs, band_pairs(corpus)),
        (verified, band_pairs(corpus, verify=verify)),
        (bipartite, band_pairs(corpus, sigs(probes, 100))),
        (set(), band_pairs(sigs([], 0))),
        (
            {(i, j) for i, x in ids for j, y in ids
             if i < j and collide(x[:1], y[:1])},
            band_pairs(sigs(rows, 0, n_bands=1)),
        ),
    ]
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for n, (expect, df) in enumerate(cases):
        got = [tuple(r) for r in df.collect()]
        assert len(got) == len(set(got)), (n, got)
        assert set(got) == expect, (n, set(got) ^ expect)
        assert cache.isEmpty(), n


payloads = st.lists(
    st.binary(min_size=0, max_size=700), min_size=1, max_size=6
)


@given(blobs=payloads)
@_settings
def test_cdc_chunks_partition_and_clamp_invariants(spark, blobs):
    """M9's chunker fuzzed on arbitrary binary payloads: per document,
    chunk lengths must sum exactly to the payload length (the chunks
    PARTITION the bytes — no gap, no overlap), every non-final chunk
    must respect the [16, 256]-byte clamp, chunk_idx must be dense from
    0, and re-running must be byte-identical (content-determinism is
    the whole CDC contract)."""
    from etl_spark_eks_spark.operators.multimodal import cdc_chunks

    rows = [(i, b) for i, b in enumerate(blobs)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = sorted(
        (
            (r["doc_id"], r["chunk_idx"], r["chunk_hash"], r["chunk_len"])
            for r in cdc_chunks(df, "payload", "doc_id").collect()
        )
    )
    again = sorted(
        (
            (r["doc_id"], r["chunk_idx"], r["chunk_hash"], r["chunk_len"])
            for r in cdc_chunks(df, "payload", "doc_id").collect()
        )
    )
    assert got == again  # deterministic

    from collections import defaultdict

    per_doc = defaultdict(list)
    for doc_id, idx, _h, ln in got:
        per_doc[doc_id].append((idx, ln))
    for doc_id, blob in rows:
        chunks = sorted(per_doc[doc_id])
        if len(blob) == 0:
            # a zero-byte payload still yields its single empty chunk
            assert chunks == [(0, 0)]
            continue
        assert [i for i, _ in chunks] == list(range(len(chunks)))
        assert sum(ln for _, ln in chunks) == len(blob)
        for _, ln in chunks[:-1]:
            assert 16 <= ln <= 256, (doc_id, chunks)
        assert chunks[-1][1] <= 256 + 16


# --- C129 sorted-suffix LCP spans ------------------------------------------

suffix_docs = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "ab"]), min_size=0, max_size=24
    ),
    min_size=1,
    max_size=5,
)


def _brute_suffix_spans(docs, g, cap, min_len):
    """Brute-force reference for C129: per doc, the union of
    [p, p + true_maxmatch(p) - 1] over positions with UNCLAMPED
    maximal match >= min_len (all-pairs token LCP, same- and
    cross-doc), plus contiguous-run span count and the clamped
    per-doc max. The operator's clamped intervals must reproduce
    the same covered SETS (the docstring's re-anchoring argument)."""
    out = {}
    for di, toks in enumerate(docs):
        covered = set()
        doc_max = 0
        for i in range(len(toks)):
            best = 0
            for dj, other in enumerate(docs):
                for j in range(len(other)):
                    if (di, i) == (dj, j):
                        continue
                    k = 0
                    while (
                        i + k < len(toks)
                        and j + k < len(other)
                        and toks[i + k] == other[j + k]
                    ):
                        k += 1
                    best = max(best, k)
            if best >= min_len:
                covered.update(range(i + 1, i + best + 1))  # 1-based
                doc_max = max(doc_max, min(best, cap))
        if covered:
            runs = 0
            prev = None
            for p in sorted(covered):
                if prev is None or p > prev + 1:
                    runs += 1
                prev = p
            out[di] = (len(toks), runs, len(covered), doc_max)
    return out


@given(
    docs=suffix_docs,
    params=st.sampled_from([(2, 6, 2), (2, 6, 3), (3, 8, 4)]),
)
@_settings
def test_suffix_lcp_spans_match_brute_force(spark, docs, params):
    """C129's bucketed clamped-suffix-sort spans equal the all-pairs
    unclamped truth: exact covered mass, exact contiguous span count,
    and clamped max match, at several (g, cap, min_len) choices
    including runs far longer than cap (the re-anchoring case)."""
    from etl_spark_eks_spark.operators.dedup import suffix_lcp_spans

    g, cap, min_len = params
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in (
            suffix_lcp_spans(d, g=g, cap=cap, min_len=min_len)
            .groupBy("doc_id")
            .agg(
                F.min("n_tokens").alias("n_tokens"),
                F.count("*").alias("n_spans"),
                F.sum(
                    F.col("span_end") - F.col("span_start") + 1
                ).alias("dup_tokens"),
                F.max("span_max_match").alias("max_match"),
            )
            .collect()
        )
    }
    want = _brute_suffix_spans(docs, g, cap, min_len)
    assert set(got) == set(want), (sorted(got), sorted(want))
    for di, (n_toks, runs, mass, doc_max) in want.items():
        r = got[di]
        assert r["n_tokens"] == n_toks
        assert r["n_spans"] == runs, (di, dict(r.asDict()), want[di])
        assert r["dup_tokens"] == mass, (di, dict(r.asDict()), want[di])
        assert r["max_match"] == doc_max, (di, dict(r.asDict()), want[di])


def test_rounded_ratio_columns_off_tie_grid(spark, sf_dir):
    """ADVICE r10: several hash-oracled outputs ship ROUND(x, 6)
    doubles, and Spark (HALF_UP on shortest-repr) vs DuckDB
    (binary-scaled) are known to diverge when x sits exactly on (or
    within a ulp of) the .5 tie grid at the 6th decimal (the measured
    C134 divergence class). For every rounded ratio whose numerator
    and denominator ship IN the output as exact integers, recompute
    the pre-rounded value with exact rational arithmetic and assert it
    sits >= 1e-9 away from the tie grid — a fixture change that moves
    a value onto the grid fails here first, not as a silent oracle
    divergence."""
    from fractions import Fraction

    from etl_spark_eks_spark import registry

    registry.load_all()

    def tie_distance(num: int, den: int) -> float:
        # distance of frac(num*1e6/den) from 0.5, exact
        f = Fraction(num * 10**6, den)
        frac = f - (f.numerator // f.denominator)
        return abs(float(frac - Fraction(1, 2)))

    checks = []  # (query, ratio description, num, den)
    for r in registry.QUERIES["q_c129_suffix_lcp_spans"](
        spark, sf_dir
    ).collect():
        checks.append(
            ("q_c129.dup_frac", r["dup_tokens"], r["n_tokens"])
        )
    for r in registry.QUERIES["q_c131_fertility_audit"](
        spark, sf_dir
    ).collect():
        if r["n_chars"]:
            checks.append(("q_c131.fertility", r["n_tokens"], r["n_chars"]))
    c139 = registry.QUERIES["q_c139_fertility_drilldown"](
        spark, sf_dir
    ).collect()
    lang_tot = {}
    for r in c139:
        lt, lc = lang_tot.get(r["lang"], (0, 0))
        lang_tot[r["lang"]] = (lt + r["n_tokens"], lc + r["n_chars"])
    for r in c139:
        lt, lc = lang_tot[r["lang"]]
        checks.append(("q_c139.fertility", r["n_tokens"], r["n_chars"]))
        checks.append(("q_c139.lang_fertility", lt, lc))
        # ratio = (t_s/c_s)/(lt/lc) = t_s*lc / (c_s*lt), exact
        checks.append(("q_c139.ratio", r["n_tokens"] * lc, r["n_chars"] * lt))
    for r in registry.QUERIES["q_c133_translated_shingle_alignment"](
        spark, sf_dir
    ).collect():
        checks.append(
            (
                "q_c133.jaccard",
                r["n_shared"],
                r["n_a"] + r["n_b"] - r["n_shared"],
            )
        )
    for r in registry.QUERIES["q_c138_concept_containment_matrix"](
        spark, sf_dir
    ).collect():
        checks.append(("q_c138.containment", r["n_shared"], r["n_src"]))
    for r in registry.QUERIES["q_c141_containment_drilldown"](
        spark, sf_dir
    ).collect():
        checks.append(("q_c141.containment", r["n_contained"], r["n_doc"]))
    assert checks
    offenders = [
        (name, num, den)
        for name, num, den in checks
        if den and tie_distance(num, den) < 1e-9
    ]
    assert not offenders, (
        f"rounded ratios on the 6dp tie grid (cross-engine ROUND "
        f"divergence risk): {offenders[:5]}"
    )
