"""Operator-level tests: LWW variants parity, as-of joins, text/dedup/sim."""

from pyspark.sql import functions as F

from ore_etl_spark.operators.asof import asof_join_range, asof_join_union
from ore_etl_spark.operators.lww import dedupe_lww

from tests.oracles import dedupe_lww_window


def test_lww_agg_matches_window(spark):
    rows = [
        ("a", "x", 1, 0, "v1"), ("a", "x", 3, 0, "v3"), ("a", "x", 2, 1, "v2"),
        ("a", "x", 3, 0, "v3"),  # verbatim dup
        ("b", "y", 5, 2, "w5"), ("b", "y", 5, 1, "w4"),
        ("c", "z", None, 1, "n"), ("c", "z", 7, 0, "m"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit_seq long, event_seq long, content string"
    )
    a = dedupe_lww(df, ["repo", "path"], ["commit_seq", "event_seq"])
    b = dedupe_lww_window(df, ["repo", "path"], ["commit_seq", "event_seq"])
    sa = sorted(map(str, a.collect()))
    sb = sorted(map(str, b.collect()))
    assert sa == sb
    out = {(r["repo"], r["path"]): r["content"] for r in a.collect()}
    assert out == {("a", "x"): "v3", ("b", "y"): "w5", ("c", "z"): "m"}


def test_lww_agg_uses_partial_aggregation(spark):
    df = spark.createDataFrame(
        [("a", "x", 1, 0, "v")],
        "repo string, path string, commit_seq long, event_seq long, content string",
    )
    plan = dedupe_lww(df, ["repo", "path"], ["commit_seq", "event_seq"])._jdf \
        .queryExecution().executedPlan().toString()
    # partial agg before the exchange, no Sort/Window operator
    assert "Window" not in plan
    assert "partial_max" in plan or "HashAggregate" in plan


def test_asof_union_matches_range(spark):
    left = spark.createDataFrame(
        [(1, "u1", 100), (2, "u1", 205), (3, "u2", 50), (4, "u3", 10)],
        "id long, user string, t long",
    )
    right = spark.createDataFrame(
        [(11, "u1", 100), (12, "u1", 200), (13, "u1", 300), (14, "u2", 49)],
        "rid long, user string, t long",
    )
    u = asof_join_union(left, right.withColumnRenamed("rid", "ref_id"),
                        on=["user"], time_col="t", value_cols=["ref_id"],
                        tie_col="ref_id")
    got_u = {r["id"]: r["ref_id"] for r in u.collect()}
    # t=100 tie: ref 11 visible (<=); t=205 -> ref 12; u2 t=50 -> 14; u3 none
    assert got_u == {1: 11, 2: 12, 3: 14, 4: None}
    r = asof_join_range(left, right.withColumnRenamed("rid", "ref_id"),
                        on=["user"], time_col="t", value_cols=["ref_id"],
                        lookback=10_000, left_id_cols=["id"], tie_col="ref_id")
    got_r = {row["id"]: row["ref_id"] for row in r.collect()}
    assert got_r == got_u


def test_text_features(spark):
    from ore_etl_spark.functions.text import add_text_features

    df = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog"),
         (2, "el que la de los y el camino"),
         (3, "@@@ ### !!!")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in add_text_features(df).collect()}
    assert out[1]["n_tokens"] == 8
    assert out[1]["lang_pred"] == "en"
    assert out[2]["lang_pred"] == "es"
    assert out[3]["lang_pred"] == "und"
    assert out[3]["punct_ratio"] > 0.5
    assert out[1]["quality"] > out[3]["quality"]
    assert len(out[1]["fingerprint"]) == 32


def test_dedup_exact_and_jaccard(spark):
    from ore_etl_spark.functions.dedup import exact_dup_groups, ngram_jaccard

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "A b  c d e"), (3, "totally different words here")],
        "doc_id long, text string",
    )
    groups = exact_dup_groups(df).collect()
    dup = [g for g in groups if g["n_docs"] > 1]
    assert len(dup) == 1 and dup[0]["keep_id"] == 1
    jac = df.alias("a").join(df.alias("b"), F.col("a.doc_id") < F.col("b.doc_id")) \
        .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"),
                ngram_jaccard(F.col("a.text"), F.col("b.text")).alias("j")).collect()
    j = {(r["ia"], r["ib"]): r["j"] for r in jac}
    assert j[(1, 2)] == 1.0
    assert j[(1, 3)] == 0.0


def test_minhash_lsh_finds_near_dups(spark):
    from ore_etl_spark.functions.dedup import minhash_lsh_candidates

    base = " ".join(f"tok{i}" for i in range(30))
    near = " ".join(f"tok{i}" for i in range(29)) + " tokX"
    far = " ".join(f"zzz{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_candidates(df).select("id_a", "id_b").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_similarity(spark):
    from ore_etl_spark.functions.dedup import simhash32

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "one two three four five six")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["sh"] for r in
           df.select("doc_id", simhash32(F.col("text")).alias("sh")).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_cosine_topk_and_lsh_ann(spark):
    from ore_etl_spark.functions.similarity import cosine_topk_brute, lsh_bucket_ann

    vecs = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    vecs.append((100, [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    top = cosine_topk_brute(df, q, k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 100]
    ann = lsh_bucket_ann(df, q, k=2, n_planes=2).collect()
    assert 0 in [r["vec_id"] for r in ann]  # same bucket as itself


def test_agg_multi_count_pinned_vs_pandas(spark):
    """A10 was rotated out of the 50-slot gate in round 5 (policy in
    COVERAGE.md) to seat pack_token_shards. Its engine-vs-DuckDB check
    lives on in scripts/check_oracles.py's EXTRA_ORACLES; this pin adds
    an in-suite independent recompute so `pytest` alone still proves it
    (a pytest that only checked Spark self-consistency would let a
    shared predicate bug through — round-4 ADVICE on D12)."""
    import pandas as pd

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    row = m.q_agg_multi_count(spark, sf).collect()[0]
    ev = pd.read_parquet(f"{sf}/events.parquet")
    assert row["n_click"] == int((ev.event_type == "click").sum())
    assert row["n_purchase"] == int((ev.event_type == "purchase").sum())
    assert row["n_error"] == int((ev.event_type == "error").sum())
    assert row["n_high_value"] == int((ev.value > 500).sum())
    assert row["n_k9"] == int(ev.props.str.contains('"k": 9',
                                                    regex=False).sum())


def test_chunk_documents_matches_brute_force(spark):
    """Chunk boundaries vs a python reimplementation across the edge
    cases: empty/NULL text (one empty chunk — nothing vanishes), exactly
    max_tokens, max_tokens+1, long docs; plus the overlap-reconstruction
    property (dropping each later chunk's first `overlap` tokens and
    concatenating re-yields the original token stream)."""
    from ore_etl_spark.functions.text import chunk_documents

    import pytest as _pytest

    max_t, ov = 5, 2
    stride = max_t - ov
    docs = {
        1: "", 2: None, 3: "a b c", 4: "t1 t2 t3 t4 t5",
        5: "t1 t2 t3 t4 t5 t6",
        6: " ".join(f"w{i}" for i in range(23)),
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {}
    for r in chunk_documents(df, max_t, ov).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["n_tokens"]))
    for d in got.values():
        d.sort()
    for i, text in docs.items():
        tk = (text or "").split()
        if len(tk) <= max_t:
            want = [(0, " ".join(tk), len(tk))]
        else:
            n_chunks = 1 + -(-(len(tk) - max_t) // stride)
            want = [(c, " ".join(tk[c * stride:c * stride + max_t]),
                     len(tk[c * stride:c * stride + max_t]))
                    for c in range(n_chunks)]
        assert got[i] == want, f"doc {i}"
    # overlap reconstruction on the long doc
    parts = [t.split() for _, t, _ in got[6]]
    rebuilt = parts[0] + [w for p in parts[1:] for w in p[ov:]]
    assert rebuilt == docs[6].split()
    with _pytest.raises(ValueError):
        chunk_documents(df, 5, 5)
    with _pytest.raises(ValueError):
        chunk_documents(df, 0)


def test_pii_redact_matches_python_re(spark):
    """Redaction + counts vs python's re over the same patterns, and the
    order contract: the email pass runs before ipv4, so a dotted-digit
    email local part ('1.2.3.4@x.com') redacts as ONE email, not an IP
    inside a mangled address."""
    import re

    from ore_etl_spark.functions.text import PII_ORDER, PII_PATTERNS, pii_redact

    rows = [
        (1, "mail me at alice.b+spam@corp.example.org thanks"),
        (2, "srv 10.0.255.7 and 192.168.1.1 up; card 4111111111111111"),
        (3, "1.2.3.4@x.com is an email, 1.2.3.4 is an ip"),
        (4, "nothing here"), (5, ""), (6, None),
        (7, "short 123456789012 (12 digits: kept) 1234567890123 (13: hit)"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_redact(df).collect()}
    for i, text in rows:
        if text is None:
            assert got[i]["clean_text"] is None
            continue
        want = text
        for name in PII_ORDER:
            want = re.sub(PII_PATTERNS[name], f"<{name.upper()}>", want)
        assert got[i]["clean_text"] == want, f"doc {i}"
        for name in PII_ORDER:
            assert got[i][f"n_{name}"] == len(
                re.findall(PII_PATTERNS[name], text)), f"doc {i} {name}"
    assert got[3]["clean_text"] == "<EMAIL> is an email, <IPV4> is an ip"
    assert got[2]["n_longnum"] == 1 and got[7]["n_longnum"] == 1


def test_pii_redact_in_place_counts_original(spark):
    """out_col == text_col (in-place scrub) must still count matches on
    the ORIGINAL text — withColumn re-resolves later column refs against
    the mutated frame, so counts are computed before the overwrite."""
    from ore_etl_spark.functions.text import pii_redact

    df = spark.createDataFrame([(1, "mail a@b.com now")],
                               "doc_id long, text string")
    r = pii_redact(df, out_col="text").collect()[0]
    assert r["text"] == "mail <EMAIL> now"
    assert r["n_email"] == 1
