"""Planted-perturbation harness (VERDICT r11 task 4): Spark-side-only
closed-form delta checks.

The oracle gate's one structural blind spot is the TWIN-MIRRORED bug:
the DuckDB SQL ships from this repo, so a semantic error reproduced in
both the Spark operator and its twin hash-matches forever (the r10 chi2
NULL-category episode was exactly this shape — caught by review, not by
the gate). This harness closes that gap for a rotating subset of
queries WITHOUT any twin: it perturbs the input fixture in a way whose
effect on the query output is known in closed form (append one exact
duplicate -> that dedup group grows by exactly 1; append one
out-of-bounds row -> the audit's oob count moves by exactly 1), runs
the REGISTERED Spark query on the baseline and the perturbed copy, and
asserts the delta. A bug mirrored into the twin cannot hide here,
because the expectation comes from the perturbation's construction, not
from any SQL restatement of the operator.

Coverage (first 10, chosen for crisp closed forms across families):
  overview, orders_by_date, input_bounds_audit, table_profile,
  dedup_exact, minhash_dedup, events_dedup, user_rollup, doc_stats,
  decontamination.

Usage: python tools/perturb_check.py [src_sf_dir] [name ...]
Exit 0 iff every check passes. Wired into tools/seal_round.py.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sweep import copy_fixture  # noqa: E402  (tools/ is this script's dir)


# --------------------------------------------------------------------------
# fixture mutation helpers (driver-side pyarrow, physical types preserved)
# --------------------------------------------------------------------------


def _append_rows(sf_dir: str, table: str, rows: list[dict]) -> None:
    path = os.path.join(sf_dir, f"{table}.parquet")
    t = pq.read_table(path)
    add = pa.Table.from_pylist(rows, schema=t.schema)
    # version 2.6 keeps TIMESTAMP(NANOS) columns nanos where present
    pq.write_table(pa.concat_tables([t, add]), path, version="2.6")


def _read_rows(sf_dir: str, table: str) -> list[dict]:
    return pq.read_table(os.path.join(sf_dir, f"{table}.parquet")).to_pylist()


def _rows_set(rows) -> set:
    return {tuple(r) for r in rows}


def _assert(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


# --------------------------------------------------------------------------
# checks: each = (mutate(base_dir, pert_dir, spark) -> ctx,
#                 check(base_rows, pert_rows, ctx))
# rows are the registered query's collected Rows.
# --------------------------------------------------------------------------

_TS = __import__("datetime").datetime

NEW_ID = 10**9  # larger than any testdata id at any shipped SF


def _mut_overview(base, pert, spark):
    _append_rows(pert, "orders", [{
        "o_orderkey": NEW_ID, "o_custkey": 1, "o_orderstatus": "F",
        "o_totalprice": 123.45, "o_orderdate": _TS(1996, 5, 5),
        "o_orderpriority": "3-MEDIUM",
    }])
    return {}


def _chk_overview(base, pert, ctx):
    b, p = base[0], pert[0]
    _assert(p.total_orders == b.total_orders + 1, "total_orders must move +1")
    _assert(p.total_customers == b.total_customers, "customers must not move")
    # total_revenue is the rounded double sum: delta within a cent
    _assert(abs((p.total_revenue - b.total_revenue) - 123.45) < 0.011,
            f"revenue delta {p.total_revenue - b.total_revenue} != +123.45")
    _assert(p.sample_status == b.sample_status, "sample_status must not move")


def _mut_orders_by_date(base, pert, spark):
    _append_rows(pert, "orders", [{
        "o_orderkey": NEW_ID, "o_custkey": 1, "o_orderstatus": "F",
        "o_totalprice": 200.0, "o_orderdate": _TS(1993, 12, 25),
        "o_orderpriority": "3-MEDIUM",
    }])
    return {}


def _chk_orders_by_date(base, pert, ctx):
    import datetime

    planted = datetime.date(1993, 12, 25)
    _assert(not any(r.order_date == planted for r in base),
            "planted date must be new")
    new = [r for r in pert if r.order_date == planted]
    _assert(len(new) == 1 and new[0].order_count == 1
            and new[0].revenue == 200.0,
            f"planted day row wrong: {new}")
    _assert(_rows_set(r for r in pert if r.order_date != planted)
            == _rows_set(base), "rows for untouched days must be unchanged")


def _mut_bounds(base, pert, spark):
    _append_rows(pert, "events", [{
        "event_id": NEW_ID, "ts": _TS(2024, 1, 5, 12, 0, 0),
        "user_id": 1, "event_type": "view", "value": 9.9e13,  # > 1e12 fence
        "props": "{}",
    }])
    # off-x100-grid discount (ADVICE r12): 0.125 -> 12.5 "percent", the
    # exact dirty-rate case pct_units would silently round — must count
    # in n_offgrid while staying in n_ok (in-fence, finite)
    _append_rows(pert, "lineitem", [{
        "l_orderkey": NEW_ID, "l_partkey": 1, "l_suppkey": 1,
        "l_linenumber": 1, "l_quantity": 1.0, "l_extendedprice": 10.0,
        "l_discount": 0.125, "l_tax": 0.02, "l_returnflag": "N",
        "l_linestatus": "O", "l_shipdate": _TS(1996, 1, 1),
    }])
    return {}


def _chk_bounds(base, pert, ctx):
    b = {(r.table_name, r.col_name): r for r in base}
    p = {(r.table_name, r.col_name): r for r in pert}
    bv, pv = b[("events", "value")], p[("events", "value")]
    _assert(pv.n_rows == bv.n_rows + 1 and pv.n_oob == bv.n_oob + 1
            and pv.n_ok == bv.n_ok,
            f"events.value: {tuple(bv)} -> {tuple(pv)} (want oob +1)")
    bt, pt = b[("events", "ts")], p[("events", "ts")]
    _assert(pt.n_rows == bt.n_rows + 1 and pt.n_ok == bt.n_ok + 1
            and pt.n_oob == bt.n_oob,
            f"events.ts: {tuple(bt)} -> {tuple(pt)} (want ok +1)")
    bd, pd = b[("lineitem", "l_discount")], p[("lineitem", "l_discount")]
    _assert(pd.n_offgrid == bd.n_offgrid + 1 and pd.n_ok == bd.n_ok + 1
            and pd.n_oob == bd.n_oob,
            f"l_discount: {tuple(bd)} -> {tuple(pd)} (want offgrid +1, "
            "ok +1 — off-grid is a contract flag, not quarantine)")
    for c in ("l_extendedprice", "l_tax"):
        bc, pc = b[("lineitem", c)], p[("lineitem", c)]
        _assert(pc.n_offgrid == bc.n_offgrid
                and pc.n_ok == bc.n_ok + 1,
                f"{c}: clean planted value must not count off-grid")
    for k in b:
        if k[0] not in ("events", "lineitem"):
            _assert(tuple(b[k]) == tuple(p[k]), f"{k} must be unchanged")


def _mut_table_profile(base, pert, spark):
    _append_rows(pert, "orders", [{
        "o_orderkey": NEW_ID, "o_custkey": 1, "o_orderstatus": "F",
        "o_totalprice": 99999999.99,  # new max, cent-clean
        "o_orderdate": _TS(1997, 1, 1), "o_orderpriority": "3-MEDIUM",
    }])
    return {}


def _chk_table_profile(base, pert, ctx):
    b = {r.col_name: r for r in base}
    p = {r.col_name: r for r in pert}
    for c in b:
        _assert(p[c].n_rows == b[c].n_rows + 1, f"{c}: n_rows must move +1")
    _assert(p["o_totalprice"].max_repr == "99999999.99",
            f"max_repr {p['o_totalprice'].max_repr} != planted max")
    _assert(p["o_totalprice"].min_repr == b["o_totalprice"].min_repr,
            "min_repr must not move")
    _assert(p["o_orderkey"].max_repr == str(NEW_ID),
            "o_orderkey max must be the planted key")
    _assert(p["o_orderkey"].n_distinct == b["o_orderkey"].n_distinct + 1,
            "o_orderkey distinct must move +1")
    _assert(p["o_orderstatus"].n_distinct == b["o_orderstatus"].n_distinct,
            "o_orderstatus distinct must not move ('F' exists)")


def _dup_of_canonical(base_dir: str, canonical_id: int) -> list[dict]:
    docs = _read_rows(base_dir, "documents")
    src = next(d for d in docs if d["doc_id"] == canonical_id)
    return [{
        "doc_id": NEW_ID, "text": src["text"], "lang": src["lang"],
        "source": src["source"], "n_chars": src["n_chars"],
    }]


def _mut_dedup_exact(base, pert, spark):
    # duplicate an existing duplicate group's canonical doc (group grows
    # by exactly 1) — or, when the baseline corpus has no exact dups,
    # duplicate doc 0 (exactly one NEW group of 2 must appear)
    import __spark_entry__ as E

    base_rows = E.queries()["dedup_exact"](spark, base).collect()
    target = (min(r.canonical_doc_id for r in base_rows)
              if base_rows else 0)
    _append_rows(pert, "documents", _dup_of_canonical(base, target))
    return {"target": target, "fresh_group": not base_rows
            or target not in {r.canonical_doc_id for r in base_rows}}


def _chk_dedup_exact(base, pert, ctx):
    t = ctx["target"]
    b = {r.canonical_doc_id: r for r in base}
    p = {r.canonical_doc_id: r for r in pert}
    if ctx["fresh_group"]:
        _assert(t not in b and t in p and p[t].n_docs == 2,
                f"copying unique doc {t} must create one group of 2: "
                f"{p.get(t)}")
    else:
        _assert(p[t].n_docs == b[t].n_docs + 1,
                f"group {t}: n_docs {b[t].n_docs} -> {p[t].n_docs}, want +1")
        _assert(p[t].fingerprint == b[t].fingerprint,
                "canonical fp must hold")
    _assert({k: (v.n_docs, v.fingerprint) for k, v in b.items() if k != t}
            == {k: (v.n_docs, v.fingerprint) for k, v in p.items() if k != t},
            "untouched groups must be unchanged")


def _mut_minhash(base, pert, spark):
    _append_rows(pert, "documents", _dup_of_canonical(base, 0))
    return {}


def _chk_minhash(base, pert, ctx):
    # identical text -> identical shingles -> identical minhash signature:
    # the copy MUST band-collide with doc 0 and pair at jaccard 1.0
    new = [r for r in pert if r.doc_a == 0 and r.doc_b == NEW_ID]
    _assert(len(new) == 1 and new[0].jaccard == 1.0,
            f"exact copy must pair with its source at 1.0: {new}")
    _assert(_rows_set(r for r in base)
            <= _rows_set(r for r in pert),
            "baseline pairs must survive the append")
    extra = [r for r in pert
             if _rows_set([tuple(r)]) - _rows_set(base)
             and NEW_ID not in (r.doc_a, r.doc_b)]
    _assert(extra == [], f"pairs not involving the copy appeared: {extra}")


def _mut_events_dedup(base, pert, spark):
    ev = _read_rows(base, "events")
    first = ev[0]
    redelivery = dict(first)
    redelivery["event_id"] = NEW_ID  # same (user_id, ts, type) = same hash
    _append_rows(pert, "events", [redelivery])
    return {}


def _chk_events_dedup(base, pert, ctx):
    _assert([tuple(r) for r in base] == [tuple(r) for r in pert],
            "a redelivery (same delivery hash, new event_id) must be "
            "invisible to the deduped summary")


def _mut_user_rollup(base, pert, spark):
    ts = _TS(2024, 1, 15, 12, 0, 0)
    _append_rows(pert, "events", [{
        "event_id": NEW_ID, "ts": ts, "user_id": NEW_ID,
        "event_type": "view", "value": 12.34, "props": "{}",
    }])
    return {"ts": ts}


def _chk_user_rollup(base, pert, ctx):
    new = [r for r in pert if r.user_id == NEW_ID]
    _assert(len(new) == 1, "planted user must get exactly one row")
    r = new[0]
    _assert((r.n_events, r.n_types, r.total_value) == (1, 1, 12.34)
            and r.first_seen == r.last_seen == ctx["ts"],
            f"planted user row wrong: {tuple(r)}")
    _assert(_rows_set(r for r in pert if r.user_id != NEW_ID)
            == _rows_set(base), "other users must be unchanged")


def _mut_doc_stats(base, pert, spark):
    text = "alpha beta gamma"
    _append_rows(pert, "documents", [{
        "doc_id": NEW_ID, "text": text, "lang": "zz", "source": "planted",
        "n_chars": len(text),
    }])
    return {}


def _chk_doc_stats(base, pert, ctx):
    new = [r for r in pert if r.lang == "zz"]
    _assert(len(new) == 1, "planted (lang, source) must get exactly one row")
    r = new[0]
    _assert((r.source, r.n_docs, r.total_chars, r.avg_chars, r.total_tokens,
             r.avg_tokens) == ("planted", 1, 16, 16.0, 3, 3.0),
            f"planted doc stats wrong: {tuple(r)}")
    _assert(_rows_set(r for r in pert if r.lang != "zz") == _rows_set(base),
            "other (lang, source) rows must be unchanged")


def _mut_decontamination(base, pert, spark):
    # plant a CONTAMINATED test doc: copy the longest train doc's text
    # into a new doc whose id hashes into the test split (found with the
    # engine's own leakage-stable split, so the check exercises the real
    # split + index + probe path end to end)
    from pyspark.sql import functions as F

    from xboard_spark.operators.sampling import with_split

    cand = spark.range(NEW_ID, NEW_ID + 1000).select(
        F.col("id").alias("doc_id")
    )
    test_ids = [r.doc_id for r in with_split(cand, 10)
                .filter(F.col("split") == "test").limit(1).collect()]
    _assert(len(test_ids) == 1, "no candidate id hashed into test")
    docs = _read_rows(base, "documents")
    train_ids = {r.doc_id for r in with_split(
        spark.createDataFrame([(d["doc_id"],) for d in docs], "doc_id long"),
        10).filter(F.col("split") == "train").collect()}
    donor = max((d for d in docs if d["doc_id"] in train_ids),
                key=lambda d: len(d["text"]))
    _append_rows(pert, "documents", [{
        "doc_id": test_ids[0], "text": donor["text"], "lang": donor["lang"],
        "source": donor["source"], "n_chars": donor["n_chars"],
    }])
    return {"test_id": test_ids[0], "donor": donor["doc_id"]}


def _chk_decontamination(base, pert, ctx):
    t, d = ctx["test_id"], ctx["donor"]
    hit = [r for r in pert if r.test_doc == t and r.train_doc == d]
    _assert(len(hit) == 1 and hit[0].overlap == 1.0
            and hit[0].shared == hit[0].n_test_sh,
            f"planted contamination must surface at overlap 1.0: {hit}")
    _assert(_rows_set(r for r in base)
            == _rows_set(r for r in pert if r.test_doc != t),
            "pairs for other test docs must be unchanged")


CHECKS: dict[str, tuple] = {
    "overview": (_mut_overview, _chk_overview),
    "orders_by_date": (_mut_orders_by_date, _chk_orders_by_date),
    "input_bounds_audit": (_mut_bounds, _chk_bounds),
    "table_profile": (_mut_table_profile, _chk_table_profile),
    "dedup_exact": (_mut_dedup_exact, _chk_dedup_exact),
    "minhash_dedup": (_mut_minhash, _chk_minhash),
    "events_dedup": (_mut_events_dedup, _chk_events_dedup),
    "user_rollup": (_mut_user_rollup, _chk_user_rollup),
    "doc_stats": (_mut_doc_stats, _chk_doc_stats),
    "decontamination": (_mut_decontamination, _chk_decontamination),
}


# --------------------------------------------------------------------------
# round-13 cohort (the rotation pattern applied to this gate): authored
# and tested green in round 12, PROMOTED into CHECKS at the start of
# round 13 (merged below) so each round's sealed evidence matches the
# coverage it claims.
# --------------------------------------------------------------------------


def _mut_pii_scan(base, pert, spark):
    text = ("reach me at john.doe@example.com"
            " or call 555-123-4567 before friday")
    _append_rows(pert, "documents", [{
        "doc_id": NEW_ID, "text": text, "lang": "en", "source": "planted",
        "n_chars": len(text),
    }])
    return {}


def _chk_pii_scan(base, pert, ctx):
    new = [r for r in pert if r.source == "planted"]
    _assert(len(new) == 1, "planted source must get exactly one row")
    r = new[0]
    _assert((r.n_docs, r.docs_with_email, r.docs_with_phone,
             r.total_emails, r.total_phones) == (1, 1, 1, 1, 1),
            f"planted 1-email/1-phone doc miscounted: {tuple(r)}")
    _assert(_rows_set(r for r in pert if r.source != "planted")
            == _rows_set(base), "other sources must be unchanged")


def _mut_simhash(base, pert, spark):
    _append_rows(pert, "documents", _dup_of_canonical(base, 0))
    return {}


def _chk_simhash(base, pert, ctx):
    b = {r.doc_id: r.simhash for r in base}
    p = {r.doc_id: r.simhash for r in pert}
    _assert(p[NEW_ID] == p[0] == b[0],
            "an exact copy must hash to ITS SOURCE's simhash "
            f"(src {b[0]}, copy {p.get(NEW_ID)})")
    _assert({k: v for k, v in p.items() if k != NEW_ID} == b,
            "existing docs' simhashes must be unchanged")


def _mut_train_test_split(base, pert, spark):
    # find a fresh id for each split with the engine's own hash split,
    # then plant one doc per split under a NEW lang: both (split, 'zz')
    # rows must appear with exactly the planted token counts
    from pyspark.sql import functions as F

    from xboard_spark.operators.sampling import with_split

    cand = spark.range(NEW_ID, NEW_ID + 1000).select(
        F.col("id").alias("doc_id")
    )
    splits = {r.split: r.doc_id for r in with_split(cand, 10)
              .groupBy("split").agg(F.min("doc_id").alias("doc_id"))
              .select("split", "doc_id").collect()}
    _assert(set(splits) == {"train", "test"}, f"need both splits: {splits}")
    rows = []
    for split, n_tok in (("train", 7), ("test", 3)):
        text = " ".join(f"tok{i}" for i in range(n_tok))
        rows.append({
            "doc_id": splits[split], "text": text, "lang": "zz",
            "source": "planted", "n_chars": len(text),
        })
    _append_rows(pert, "documents", rows)
    return {}


def _chk_train_test_split(base, pert, ctx):
    new = {r.split: r for r in pert if r.lang == "zz"}
    _assert(set(new) == {"train", "test"},
            f"planted lang must appear in both splits: {set(new)}")
    _assert((new["train"].n_docs, new["train"].total_tokens) == (1, 7)
            and (new["test"].n_docs, new["test"].total_tokens) == (1, 3),
            f"planted token counts wrong: {[tuple(r) for r in new.values()]}")
    _assert(_rows_set(r for r in pert if r.lang != "zz") == _rows_set(base),
            "other (split, lang) rows must be unchanged")


def _mut_length_histogram(base, pert, spark):
    n_tok = 5000  # far beyond any testdata doc -> a NEW bucket
    text = "tok " * n_tok
    _append_rows(pert, "documents", [{
        "doc_id": NEW_ID, "text": text, "lang": "en", "source": "planted",
        "n_chars": len(text),
    }])
    return {"bucket": (n_tok // 50) * 50, "n_chars": float(len(text))}


def _chk_length_histogram(base, pert, ctx):
    _assert(not any(r.bucket_lo == ctx["bucket"] for r in base),
            "planted bucket must be new")
    new = [r for r in pert if r.bucket_lo == ctx["bucket"]]
    _assert(len(new) == 1 and new[0].n_docs == 1
            and new[0].avg_chars == ctx["n_chars"],
            f"planted bucket row wrong: {new}")
    _assert(_rows_set(r for r in pert if r.bucket_lo != ctx["bucket"])
            == _rows_set(base), "other buckets must be unchanged")


def _mut_customer_lookup(base, pert, spark):
    # isolation invariant: a point lookup for key 42 must be blind to any
    # OTHER customer appearing
    _append_rows(pert, "customer", [{
        "c_custkey": NEW_ID, "c_name": "Customer#planted",
        "c_nationkey": 0, "c_acctbal": 1.0, "c_mktsegment": "BUILDING",
    }])
    return {}


def _chk_customer_lookup(base, pert, ctx):
    _assert([tuple(r) for r in base] == [tuple(r) for r in pert],
            "the key-42 lookup must not see an unrelated appended customer")


def _mut_quality_scores(base, pert, spark):
    _append_rows(pert, "documents", [{
        "doc_id": NEW_ID, "text": "Ab cdef!", "lang": "zz",
        "source": "planted", "n_chars": 8,
    }])
    return {}


def _chk_quality_scores(base, pert, ctx):
    new = [r for r in pert if r.doc_id == NEW_ID]
    _assert(len(new) == 1, "planted doc must get exactly one row")
    r = new[0]
    # "Ab cdef!": 8 chars, tokens [ab, cdef], 6 alpha, 1 punct, 1 space
    _assert((r.n_chars_m, r.n_tokens, r.alpha_ratio, r.punct_ratio,
             r.stopword_ratio, r.spaces_per_token, r.mean_token_len)
            == (8, 2, 0.75, 0.125, 0.0, 0.5, 3.0),
            f"planted quality features wrong: {tuple(r)}")
    _assert(_rows_set(r for r in pert if r.doc_id != NEW_ID)
            == _rows_set(base), "other docs must be unchanged")


def _mut_events_json(base, pert, spark):
    _append_rows(pert, "events", [{
        "event_id": NEW_ID, "ts": _TS(2024, 1, 20, 8, 0, 0),
        "user_id": 1, "event_type": "planted", "value": 1.0,
        "props": '{"k": 123456}',
    }])
    return {}


def _chk_events_json(base, pert, ctx):
    new = [r for r in pert if r.event_type == "planted"]
    _assert(len(new) == 1, "planted event_type must get exactly one row")
    r = new[0]
    _assert((r.avg_k, r.min_k, r.max_k, r.distinct_k)
            == (123456.0, 123456, 123456, 1),
            f"planted k row wrong: {tuple(r)}")
    _assert(_rows_set(r for r in pert if r.event_type != "planted")
            == _rows_set(base), "other event types must be unchanged")


def _mut_curation_stats(base, pert, spark):
    # one doc PASSING the >= 40-token quality gate (60 unique tokens, so
    # it cannot be a near-dup removal victim) and one FAILING it (10
    # tokens): exactly ONE new row may appear
    passing = " ".join(f"uniq{i}" for i in range(60))
    failing = " ".join(f"shrt{i}" for i in range(10))
    _append_rows(pert, "documents", [
        {"doc_id": NEW_ID, "text": passing, "lang": "zz",
         "source": "planted", "n_chars": len(passing)},
        {"doc_id": NEW_ID + 1, "text": failing, "lang": "zz2",
         "source": "planted", "n_chars": len(failing)},
    ])
    return {}


def _chk_curation_stats(base, pert, ctx):
    new = [r for r in pert if r.lang == "zz"]
    _assert(len(new) == 1 and (new[0].n_docs, new[0].total_tokens)
            == (1, 60),
            f"gate-passing doc must appear with its 60 tokens: {new}")
    _assert(not any(r.lang == "zz2" for r in pert),
            "the 10-token doc must be EXCLUDED by the quality gate")
    _assert(_rows_set(r for r in pert if r.lang != "zz") == _rows_set(base),
            "other (lang, source) rows must be unchanged")


CHECKS.update({
    "pii_scan": (_mut_pii_scan, _chk_pii_scan),
    "simhash": (_mut_simhash, _chk_simhash),
    "train_test_split": (_mut_train_test_split, _chk_train_test_split),
    "length_histogram": (_mut_length_histogram, _chk_length_histogram),
    "customer_lookup": (_mut_customer_lookup, _chk_customer_lookup),
    "quality_scores": (_mut_quality_scores, _chk_quality_scores),
    "events_json": (_mut_events_json, _chk_events_json),
    "curation_stats": (_mut_curation_stats, _chk_curation_stats),
})


# --------------------------------------------------------------------------
# staged round-14 cohort: authored and tested green in round 13, to be
# promoted into CHECKS at the start of round 14. Run now with:
#   python tools/perturb_check.py <sf_dir> --staged
# Families covered (all new to this gate): referential integrity, anti
# join, time-grid heatmap, salted aggregation, lag/growth ladder, n-gram
# novelty, deterministic stratified sampling, Markov transitions.
# --------------------------------------------------------------------------


def _round_half_up6(x: float) -> float:
    """Mirror both engines' round(double, 6): HALF_UP on the shortest
    decimal repr (JVM BigDecimal.valueOf == Python repr)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _mut_fk_integrity(base, pert, spark):
    # one orphan lineitem (parent order missing) + one orphan order
    # (parent customer missing); the planted order's key is NEW_ID, the
    # orphan lineitem points at NEW_ID+1 so the planted order can never
    # adopt it
    _append_rows(pert, "lineitem", [{
        "l_orderkey": NEW_ID + 1, "l_partkey": 1, "l_suppkey": 1,
        "l_linenumber": 1, "l_quantity": 1.0, "l_extendedprice": 10.0,
        "l_discount": 0.0, "l_tax": 0.0, "l_returnflag": "N",
        "l_linestatus": "O", "l_shipdate": _TS(1996, 1, 1),
    }])
    _append_rows(pert, "orders", [{
        "o_orderkey": NEW_ID, "o_custkey": NEW_ID, "o_orderstatus": "F",
        "o_totalprice": 1.0, "o_orderdate": _TS(1996, 1, 1),
        "o_orderpriority": "3-MEDIUM",
    }])
    return {}


def _chk_fk_integrity(base, pert, ctx):
    b = {r.relationship: r for r in base}
    p = {r.relationship: r for r in pert}
    _assert(set(p) == set(b), f"panel rows must not change: {set(p)}")
    for rel in b:
        _assert(p[rel].n_child_rows == b[rel].n_child_rows + 1
                and p[rel].n_orphans == b[rel].n_orphans + 1,
                f"{rel}: {tuple(b[rel])} -> {tuple(p[rel])} "
                "(want child +1, orphans +1)")


def _mut_silent_customers(base, pert, spark):
    nation = _read_rows(base, "nation")
    target = next(n for n in nation if n["n_nationkey"] == 0)
    _append_rows(pert, "customer", [{
        "c_custkey": NEW_ID, "c_name": "Customer#silent",
        "c_nationkey": 0, "c_acctbal": 55.25, "c_mktsegment": "BUILDING",
    }])
    return {"nation": target["n_name"]}


def _chk_silent_customers(base, pert, ctx):
    nn = ctx["nation"]
    b = {r.nation_name: r for r in base}
    p = {r.nation_name: r for r in pert}
    bn, pn = b.get(nn), p[nn]
    _assert(pn.n_silent == (bn.n_silent if bn else 0) + 1,
            f"{nn} n_silent must move +1: {bn} -> {tuple(pn)}")
    delta = pn.idle_balance - (bn.idle_balance if bn else 0.0)
    _assert(abs(delta - 55.25) < 0.011,
            f"{nn} idle_balance delta {delta} != +55.25")
    _assert(_rows_set(r for r in pert if r.nation_name != nn)
            == _rows_set(r for r in base if r.nation_name != nn),
            "other nations must be unchanged")


def _mut_heatmap(base, pert, spark):
    # 2024-01-03 is a Wednesday -> Spark dayofweek 4; NEW user so the
    # cell's distinct-user count must also move
    _append_rows(pert, "events", [{
        "event_id": NEW_ID, "ts": _TS(2024, 1, 3, 15, 30, 0),
        "user_id": NEW_ID, "event_type": "view", "value": 1.0,
        "props": "{}",
    }])
    return {"cell": (4, 15)}


def _chk_heatmap(base, pert, ctx):
    cell = ctx["cell"]
    b = {(r.dow, r.hour): r for r in base}
    p = {(r.dow, r.hour): r for r in pert}
    total = sum(r.n_events for r in base)
    bc = b.get(cell)
    pc = p[cell]
    _assert(pc.n_events == (bc.n_events if bc else 0) + 1
            and pc.n_users == (bc.n_users if bc else 0) + 1,
            f"planted cell {cell}: {bc and tuple(bc)} -> {tuple(pc)} "
            "(want events +1, users +1)")
    for k, r in p.items():
        want_n = (b[k].n_events if k in b else 0) + (1 if k == cell else 0)
        _assert(r.n_events == want_n, f"cell {k} n_events {r.n_events}"
                f" != {want_n}")
        if k != cell and k in b:
            _assert(r.n_users == b[k].n_users,
                    f"cell {k} n_users must not move")
        # every share must use the GROWN denominator (same double
        # division both sides -> exact)
        _assert(r.share == r.n_events / (total + 1),
                f"cell {k} share {r.share} != {r.n_events}/{total + 1}")


def _mut_salted_rollup(base, pert, spark):
    _append_rows(pert, "events", [
        {"event_id": NEW_ID, "ts": _TS(2024, 1, 10, 8, 0, 0),
         "user_id": 1, "event_type": "planted", "value": 1.25,
         "props": "{}"},
        {"event_id": NEW_ID + 1, "ts": _TS(2024, 1, 10, 9, 0, 0),
         "user_id": 2, "event_type": "planted", "value": -0.5,
         "props": "{}"},
    ])
    return {}


def _chk_salted_rollup(base, pert, ctx):
    new = [r for r in pert if r.event_type == "planted"]
    _assert(len(new) == 1, "planted type must get exactly one rollup row")
    r = new[0]
    _assert((r.n_events, r.sum_value, r.min_value, r.max_value)
            == (2, 0.75, -0.5, 1.25),
            f"planted rollup row wrong: {tuple(r)}")
    _assert(_rows_set(r for r in pert if r.event_type != "planted")
            == _rows_set(base),
            "the salt must not move any existing type's row")


def _mut_mom_growth(base, pert, spark):
    # a brand-new month AFTER every observed order month: one closed-form
    # ladder row appears, every existing row (including its growth
    # against ITS predecessor) stays identical
    _append_rows(pert, "orders", [{
        "o_orderkey": NEW_ID, "o_custkey": 1, "o_orderstatus": "F",
        "o_totalprice": 100.0, "o_orderdate": _TS(2005, 6, 15),
        "o_orderpriority": "3-MEDIUM",
    }])
    return {}


def _chk_mom_growth(base, pert, ctx):
    import datetime as dt

    _assert(len(pert) == len(base) + 1, "exactly one new month row")
    _assert([tuple(r) for r in pert[:-1]] == [tuple(r) for r in base],
            "prior months (and their growth) must be unchanged")
    last = base[-1]
    r = pert[-1]
    _assert(r.month == dt.date(2005, 6, 1) and r.n_orders == 1
            and r.revenue == 100.0,
            f"planted month row wrong: {tuple(r)}")
    _assert(r.prev_revenue == last.revenue
            and r.mom_growth == (100.0 - last.revenue) / last.revenue,
            f"closed-form growth wrong: {tuple(r)} (prev {last.revenue})")


def _mut_ngram_novelty(base, pert, spark):
    # discover engine-split ids, then plant: one TRAIN doc and a TEST
    # exact copy of it (novelty must be exactly 0.0) plus a TEST doc of
    # pure gibberish (novelty exactly 1.0); the planted tokens exist
    # nowhere else, so no other test doc's row can move
    from pyspark.sql import functions as F

    from xboard_spark.operators.sampling import with_split

    cand = spark.range(NEW_ID, NEW_ID + 2000).select(
        F.col("id").alias("doc_id")
    )
    ids = {
        r.split: sorted(r.ids)
        for r in with_split(cand, 10)
        .groupBy("split")
        .agg(F.collect_list("doc_id").alias("ids"))
        .collect()
    }
    train_id = ids["train"][0]
    copy_id, gib_id = ids["test"][0], ids["test"][1]
    shared = " ".join(f"qv{chr(97 + i)}" for i in range(10))  # 8 shingles
    gibber = " ".join(f"qz{chr(97 + i)}" for i in range(6))   # 4 shingles
    _append_rows(pert, "documents", [
        {"doc_id": train_id, "text": shared, "lang": "zz",
         "source": "planted", "n_chars": len(shared)},
        {"doc_id": copy_id, "text": shared, "lang": "zz",
         "source": "planted", "n_chars": len(shared)},
        {"doc_id": gib_id, "text": gibber, "lang": "zz",
         "source": "planted", "n_chars": len(gibber)},
    ])
    return {"copy_id": copy_id, "gib_id": gib_id}


def _chk_ngram_novelty(base, pert, ctx):
    copy_id, gib_id = ctx["copy_id"], ctx["gib_id"]
    p = {r.doc_id: r for r in pert}
    c, g = p[copy_id], p[gib_id]
    _assert((c.n_shingles, c.n_overlap, c.novelty) == (8, 8, 0.0),
            f"exact copy of a train doc must score novelty 0: {tuple(c)}")
    _assert((g.n_shingles, g.n_overlap, g.novelty) == (4, 0, 1.0),
            f"pure gibberish must score novelty 1: {tuple(g)}")
    _assert(_rows_set(r for r in pert if r.doc_id not in (copy_id, gib_id))
            == _rows_set(base), "other test docs' rows must be unchanged")


def _mut_stratified_sample(base, pert, spark):
    # 7 docs under a NEW stratum vs the k=5 cap: exactly 5 sampled, ranks
    # 1..5, tags ascending, all from the planted set; other strata
    # untouched (stratum isolation is the whole point of stratification)
    rows = []
    for i in range(7):
        text = f"stratum doc {i}"
        rows.append({"doc_id": NEW_ID + i, "text": text, "lang": "zz",
                     "source": "planted", "n_chars": len(text)})
    _append_rows(pert, "documents", rows)
    return {"ids": {NEW_ID + i for i in range(7)}}


def _chk_stratified_sample(base, pert, ctx):
    new = [r for r in pert if r.lang == "zz"]
    _assert(len(new) == 5, f"k=5 cap must hold: {len(new)} zz rows")
    _assert([r.rank for r in new] == [1, 2, 3, 4, 5], "ranks must be 1..5")
    tags = [r.tag for r in new]
    _assert(tags == sorted(tags), "sample order must follow the tag order")
    _assert({r.doc_id for r in new} <= ctx["ids"],
            "sampled docs must come from the planted stratum")
    _assert(_rows_set(r for r in pert if r.lang != "zz") == _rows_set(base),
            "other strata must be unchanged")


def _mut_event_transitions(base, pert, spark):
    # one NEW user with the 3-event chain pqa -> pqb -> pqc: three new
    # transition rows with closed-form counts; the _start group's
    # denominator grows by one user, so every existing _start row's
    # probability shifts by exactly the recomputed quotient
    _append_rows(pert, "events", [
        {"event_id": NEW_ID + i, "ts": _TS(2024, 2, 1, 8, i, 0),
         "user_id": NEW_ID, "event_type": t, "value": 1.0, "props": "{}"}
        for i, t in enumerate(("pqa", "pqb", "pqc"))
    ])
    return {}


def _chk_event_transitions(base, pert, ctx):
    b = {(r.from_type, r.to_type): r for r in base}
    p = {(r.from_type, r.to_type): r for r in pert}
    start_total = sum(
        r.n_transitions for r in base if r.from_type == "_start"
    )
    for key, n, denom in (
        (("_start", "pqa"), 1, start_total + 1),
        (("pqa", "pqb"), 1, 1),
        (("pqb", "pqc"), 1, 1),
    ):
        r = p.get(key)
        _assert(r is not None and r.n_transitions == n
                and r.p_transition == _round_half_up6(n / denom),
                f"planted transition {key} wrong: {r and tuple(r)}")
    for key, r in p.items():
        if key in (("_start", "pqa"), ("pqa", "pqb"), ("pqb", "pqc")):
            continue
        _assert(key in b, f"unexpected transition row {key}")
        _assert(r.n_transitions == b[key].n_transitions,
                f"{key}: count must not move")
        want_p = (
            _round_half_up6(r.n_transitions / (start_total + 1))
            if key[0] == "_start"
            else b[key].p_transition
        )
        _assert(r.p_transition == want_p,
                f"{key}: p {r.p_transition} != {want_p}")


CHECKS_STAGED_R14: dict[str, tuple] = {
    "fk_integrity_audit": (_mut_fk_integrity, _chk_fk_integrity),
    "customers_without_orders": (
        _mut_silent_customers, _chk_silent_customers
    ),
    "activity_heatmap": (_mut_heatmap, _chk_heatmap),
    "salted_event_rollup": (_mut_salted_rollup, _chk_salted_rollup),
    "orders_mom_growth": (_mut_mom_growth, _chk_mom_growth),
    "ngram_novelty": (_mut_ngram_novelty, _chk_ngram_novelty),
    "stratified_sample": (_mut_stratified_sample, _chk_stratified_sample),
    "event_transitions": (_mut_event_transitions, _chk_event_transitions),
}


# --------------------------------------------------------------------------
# staged round-15 cohort: authored and tested green in round 13 (one round
# ahead of cadence — the round-13 board closed with budget left), to be
# promoted into CHECKS at the start of round 15. Run now with:
#   python tools/perturb_check.py <sf_dir> --staged-r15
# Families covered (all new to this gate): trailing window frames (rolling
# MA over observed days), top-k displacement, grouping-sets coherence (one
# planted row must move leaf + subtotal + grand total together), as-of join
# (incl. the no-prior-view and same-instant tie rules), TRANSITIVE-closure
# clustering (a planted A~B~C chain whose A–C Jaccard is below tau by
# construction, so only the components step can link them), sessionization
# paths, governance erasure scope, pivot.
# --------------------------------------------------------------------------


def _round_half_up(x: float, nd: int) -> float:
    """Mirror both engines' round(double, nd): HALF_UP on the shortest
    decimal repr (JVM BigDecimal.valueOf == Python repr)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _cents(x: float) -> int:
    """Exact integer cents of a 2-decimal-clean double, HALF_UP — the
    ``round(v * 100)::long`` convention of ``functions.exact``."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(x)).scaleb(2).to_integral_value(rounding=ROUND_HALF_UP)
    )


def _mut_rolling_revenue(base, pert, spark):
    import datetime

    max_d = max(r["o_orderdate"] for r in _read_rows(base, "orders"))
    planted = (max_d + datetime.timedelta(days=30)).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    _append_rows(pert, "orders", [{
        "o_orderkey": NEW_ID, "o_custkey": 1, "o_orderstatus": "F",
        "o_totalprice": 321.09, "o_orderdate": planted,
        "o_orderpriority": "3-MEDIUM",
    }])
    return {"date": planted.date(), "price": 321.09}


def _chk_rolling_revenue(base, pert, ctx):
    _assert(len(pert) == len(base) + 1, "exactly one new daily row")
    _assert([tuple(r) for r in pert[:-1]] == [tuple(r) for r in base],
            "prior rows must be unchanged (the frame is TRAILING)")
    new = pert[-1]
    _assert(new.order_date == ctx["date"] and new.revenue == ctx["price"],
            f"new daily row wrong: {tuple(new)}")
    # closed-form ma7: the ROWS frame covers the last 7 OBSERVED days —
    # the planted day plus the last 6 base days, in exact integer cents
    last6 = base[-6:]
    tot = sum(_cents(r.revenue) for r in last6) + _cents(ctx["price"])
    cnt = len(last6) + 1
    want = _round_half_up(tot / (cnt * 100.0), 4)
    _assert(new.ma7 == want, f"ma7 {new.ma7} != closed-form {want}")


def _mut_top_parts(base, pert, spark):
    _append_rows(pert, "part", [{
        "p_partkey": NEW_ID, "p_name": "planted mega part",
        "p_brand": "Brand#99", "p_type": "PLANTED ANODIZED PLUTONIUM",
        "p_size": 1, "p_retailprice": 100.0,
    }])
    _append_rows(pert, "lineitem", [{
        "l_orderkey": NEW_ID, "l_partkey": NEW_ID, "l_suppkey": 1,
        "l_linenumber": 1, "l_quantity": 7.0,
        "l_extendedprice": 5_000_000.0, "l_discount": 0.0, "l_tax": 0.0,
        "l_returnflag": "N", "l_linestatus": "O",
        "l_shipdate": _TS(1996, 1, 1),
    }])
    return {}


def _chk_top_parts(base, pert, ctx):
    _assert(len(pert) == len(base), "k rows in, k rows out")
    top = pert[0]
    _assert(
        (top.p_partkey, top.p_name, top.revenue, top.total_qty)
        == (NEW_ID, "planted mega part", 5_000_000.0, 7.0),
        f"planted part must take rank 1 exactly: {tuple(top)}",
    )
    _assert([tuple(r) for r in pert[1:]] == [tuple(r) for r in base[:-1]],
            "ranks 2..k must be base ranks 1..k-1 (one displacement)")


def _mut_revenue_rollup(base, pert, spark):
    # a NEW (returnflag, linestatus) combination: one planted row must
    # surface in THREE grouping sets at once — its leaf, its flag
    # subtotal, and the grand total — and nowhere else
    _append_rows(pert, "lineitem", [{
        "l_orderkey": NEW_ID, "l_partkey": 1, "l_suppkey": 1,
        "l_linenumber": 1, "l_quantity": 1.0, "l_extendedprice": 10.0,
        "l_discount": 0.0, "l_tax": 0.0, "l_returnflag": "Z",
        "l_linestatus": "Q", "l_shipdate": _TS(1996, 1, 1),
    }])
    return {}


def _chk_revenue_rollup(base, pert, ctx):
    b = {(r.l_returnflag, r.l_linestatus, r.gid): r for r in base}
    p = {(r.l_returnflag, r.l_linestatus, r.gid): r for r in pert}
    _assert(set(p) == set(b) | {("Z", "Q", 0), ("Z", None, 1)},
            f"exactly the Z leaf + Z subtotal must appear: {sorted(set(p) - set(b), key=str)}")
    for key in [("Z", "Q", 0), ("Z", None, 1)]:
        _assert((p[key].revenue, p[key].n_items) == (10.0, 1),
                f"{key}: {tuple(p[key])} != (10.0, 1)")
    gb, gp = b[(None, None, 3)], p[(None, None, 3)]
    _assert(gp.n_items == gb.n_items + 1, "grand total n_items must move +1")
    _assert(_cents(gp.revenue) == _cents(gb.revenue) + 1000,
            f"grand total revenue must move exactly +10.00: "
            f"{gb.revenue} -> {gp.revenue}")
    for key in set(b) - {(None, None, 3)}:
        _assert(tuple(p[key]) == tuple(b[key]),
                f"untouched grouping set {key} must not move")


def _mut_asof(base, pert, spark):
    _append_rows(pert, "events", [
        {"event_id": NEW_ID, "ts": _TS(2024, 3, 1, 10, 0, 0),
         "user_id": NEW_ID, "event_type": "view", "value": 1.0,
         "props": "{}"},
        {"event_id": NEW_ID + 1, "ts": _TS(2024, 3, 1, 10, 5, 0),
         "user_id": NEW_ID, "event_type": "view", "value": 1.0,
         "props": "{}"},
        # matches the LATEST prior view (NEW_ID+1), not the first
        {"event_id": NEW_ID + 2, "ts": _TS(2024, 3, 1, 10, 7, 30),
         "user_id": NEW_ID, "event_type": "purchase", "value": 9.99,
         "props": "{}"},
        # BEFORE any view of this user -> must emit NULL view, NULL gap
        {"event_id": NEW_ID + 3, "ts": _TS(2024, 3, 1, 9, 0, 0),
         "user_id": NEW_ID, "event_type": "purchase", "value": 9.99,
         "props": "{}"},
        # same instant as view NEW_ID+1 -> the or-equal tie rule: matched,
        # gap exactly 0.0
        {"event_id": NEW_ID + 4, "ts": _TS(2024, 3, 1, 10, 5, 0),
         "user_id": NEW_ID, "event_type": "purchase", "value": 9.99,
         "props": "{}"},
    ])
    return {}


def _chk_asof(base, pert, ctx):
    b = {r.purchase_id: r for r in base}
    p = {r.purchase_id: r for r in pert}
    _assert(set(p) == set(b) | {NEW_ID + 2, NEW_ID + 3, NEW_ID + 4},
            "exactly the three planted purchases must appear")
    for pid in b:
        _assert(tuple(p[pid]) == tuple(b[pid]),
                f"existing purchase {pid} must not move")
    _assert((p[NEW_ID + 2].view_id, p[NEW_ID + 2].gap_sec)
            == (NEW_ID + 1, 150.0),
            f"latest-prior-view match: {tuple(p[NEW_ID + 2])}")
    _assert((p[NEW_ID + 3].view_id, p[NEW_ID + 3].gap_sec) == (None, None),
            f"no-prior-view purchase must emit NULLs: {tuple(p[NEW_ID + 3])}")
    _assert((p[NEW_ID + 4].view_id, p[NEW_ID + 4].gap_sec)
            == (NEW_ID + 1, 0.0),
            f"same-instant view must match at gap 0: {tuple(p[NEW_ID + 4])}")


# Planted near-dup chain for dedup_clusters, word-3-gram shingle algebra
# (contiguous windows over a 21-token alphabet unique to the plant):
#   A = w1..w15  -> shingles s1..s13   (13)
#   B = w1..w20  -> shingles s1..s18   (18)
#   C = w5..w21  -> shingles s5..s19   (15)
#   J(A,B) = 13/18 = 0.722   >= tau  (band-collision P ~ 0.92, pinned)
#   J(B,C) = 14/19 = 0.737   >= tau  (band-collision P ~ 0.92, pinned)
#   J(A,C) =  9/19 = 0.474   <  tau  -> the exact-Jaccard verification
#                                       REJECTS A-C structurally, so only
#                                       the connected-components step can
#                                       put A and C in one cluster
# Band collision at J~0.72-0.74 is ~55-92% per link under the engine's
# fixed (32-perm, 8-band) seeds — deterministic per alphabet, so the
# "mm" suffix was SELECTED (from a 5-candidate scan) as one where both
# links collide; any future hash/salt change re-rolls this and the check
# fails loudly, which is the correct signal (it is a value-changing
# rewrite of every minhash surface).
_CHAIN_WORDS = [f"xqplant{i}mm" for i in range(1, 22)]


def _mut_dedup_chain(base, pert, spark):
    docs = []
    for off, (lo, hi) in enumerate([(1, 15), (1, 20), (5, 21)]):
        text = " ".join(_CHAIN_WORDS[lo - 1:hi])
        docs.append({
            "doc_id": NEW_ID + off, "text": text, "lang": "en",
            "source": "planted", "n_chars": len(text),
        })
    _append_rows(pert, "documents", docs)
    return {}


def _chk_dedup_chain(base, pert, ctx):
    bset = _rows_set(tuple(r) for r in base)
    pset = _rows_set(tuple(r) for r in pert)
    want = {(NEW_ID + i, NEW_ID, 3) for i in range(3)}
    _assert(pset - bset == want,
            f"the planted chain must form ONE cluster of 3 under its min "
            f"doc_id: new rows {sorted(pset - bset)}")
    _assert(bset - pset == set(),
            f"existing clusters must not move: lost {sorted(bset - pset)}")


def _mut_session_paths(base, pert, spark):
    import __spark_entry__ as E

    top = E.queries()["session_paths"](spark, base).first()
    types = top.path.split(">")
    _append_rows(pert, "events", [
        {"event_id": NEW_ID + 100 + i, "ts": _TS(2024, 1, 10, 12, i, 0),
         "user_id": NEW_ID + 10, "event_type": t, "value": 1.0,
         "props": "{}"}
        for i, t in enumerate(types)
    ])
    return {"path": top.path}


def _chk_session_paths(base, pert, ctx):
    _assert(len(pert) == len(base), "top-N row count must not change")
    _assert(pert[0].path == ctx["path"]
            and pert[0].n_sessions == base[0].n_sessions + 1,
            f"top path must gain exactly one session: {tuple(base[0])} -> "
            f"{tuple(pert[0])}")
    _assert([tuple(r) for r in pert[1:]] == [tuple(r) for r in base[1:]],
            "ranks 2..N must be unchanged")


ERASE_UID = 97 * 10_000_000  # in the modulus-97 erase cohort; NEW_ID is not


def _mut_erasure(base, pert, spark):
    _append_rows(pert, "events", [{
        "event_id": NEW_ID, "ts": _TS(2024, 1, 5, 0, 0, 0),
        "user_id": ERASE_UID, "event_type": "view", "value": 1.0,
        "props": "{}",
    }])
    _append_rows(pert, "orders", [{
        "o_orderkey": NEW_ID, "o_custkey": NEW_ID, "o_orderstatus": "F",
        "o_totalprice": 1.0, "o_orderdate": _TS(1996, 1, 1),
        "o_orderpriority": "3-MEDIUM",
    }])
    return {}


def _chk_erasure(base, pert, ctx):
    b = {r.table_name: r for r in base}
    p = {r.table_name: r for r in pert}
    eb, ep = b["events"], p["events"]
    _assert((ep.n_rows, ep.n_in_scope) == (eb.n_rows + 1, eb.n_in_scope + 1),
            f"events: planted in-scope row must count: {tuple(ep)}")
    _assert(ep.scope_share == (eb.n_in_scope + 1) / (eb.n_rows + 1),
            f"events scope_share {ep.scope_share} off closed form")
    ob, op = b["orders"], p["orders"]
    _assert((op.n_rows, op.n_in_scope) == (ob.n_rows + 1, ob.n_in_scope),
            f"orders: planted OUT-of-scope row must not enter scope: "
            f"{tuple(op)}")
    _assert(op.scope_share == ob.n_in_scope / (ob.n_rows + 1),
            f"orders scope_share {op.scope_share} off closed form")


def _mut_daily_pivot(base, pert, spark):
    import datetime

    max_ts = max(r["ts"] for r in _read_rows(base, "events"))
    planted = (max_ts + datetime.timedelta(days=30)).replace(
        hour=12, minute=0, second=0, microsecond=0
    )
    _append_rows(pert, "events", [{
        "event_id": NEW_ID, "ts": planted, "user_id": 1,
        "event_type": "purchase", "value": 2.5, "props": "{}",
    }])
    return {"date": planted.date()}


def _chk_daily_pivot(base, pert, ctx):
    _assert(len(pert) == len(base) + 1, "exactly one new day row")
    _assert([tuple(r) for r in pert[:-1]] == [tuple(r) for r in base],
            "existing day rows must not move")
    new = pert[-1]
    _assert(new.event_date == ctx["date"], f"new row date {new.event_date}")
    _assert((new.click, new.error, new.purchase, new.signup, new.view)
            == (0, 0, 1, 0, 0),
            f"pivot cells must be purchase=1, rest 0: {tuple(new)}")


CHECKS_STAGED_R15: dict[str, tuple] = {
    "rolling_revenue": (_mut_rolling_revenue, _chk_rolling_revenue),
    "top_parts_by_revenue": (_mut_top_parts, _chk_top_parts),
    "revenue_rollup": (_mut_revenue_rollup, _chk_revenue_rollup),
    "purchase_asof_view": (_mut_asof, _chk_asof),
    "dedup_clusters": (_mut_dedup_chain, _chk_dedup_chain),
    "session_paths": (_mut_session_paths, _chk_session_paths),
    "user_erasure_audit": (_mut_erasure, _chk_erasure),
    "daily_type_pivot": (_mut_daily_pivot, _chk_daily_pivot),
}


def main() -> None:
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    src = args[0] if args else "/root/testdata/sf0.001"
    if "--staged-r15" in flags:
        pool = CHECKS_STAGED_R15
    elif "--staged" in flags:
        pool = CHECKS_STAGED_R14
    else:
        pool = CHECKS
    names = args[1:] or list(pool)

    import __spark_entry__ as E
    from xboard_spark.session import get_spark

    spark = get_spark(app_name="perturb-check", shuffle_partitions=8)
    queries = E.queries()
    failures = []
    workroot = tempfile.mkdtemp(prefix="xboard_perturb_")
    try:
        for name in names:
            mutate, check = pool.get(name) or CHECKS.get(name) or \
                CHECKS_STAGED_R14.get(name) or CHECKS_STAGED_R15[name]
            pert_dir = os.path.join(workroot, name)
            copy_fixture(src, pert_dir)
            try:
                ctx = mutate(src, pert_dir, spark)
                base_rows = queries[name](spark, src).collect()
                pert_rows = queries[name](spark, pert_dir).collect()
                check(base_rows, pert_rows, ctx)
                print(f"PASS {name}")
            except Exception as e:  # noqa: BLE001 - report and continue
                print(f"FAIL {name}: {e}")
                failures.append(name)
    finally:
        shutil.rmtree(workroot, ignore_errors=True)
    print(f"{len(failures)} failures: {failures}" if failures
          else f"0 failures ({len(names)} perturbation checks)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
