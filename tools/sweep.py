"""Hostile-fixture sweep: build a variant of an sf testdata dir, run the
oracle gate (``check_oracle``) on it, and compare the failing queries with
the set recorded for that fixture.

Usage: python tools/sweep.py <fixture> [src_sf_dir] [out_dir]
Exits 0 iff the failing set equals the recorded one; a fixture that starts
failing a new query, or stops failing a recorded one, exits 1. The recorded
sets live in ``FIXTURES`` below and nowhere else.

Every fixture is deterministic (row-index rules, no RNG) and rewrites
columns through pyarrow, so PHYSICAL types are preserved (the round-10
lesson: a pandas-built fixture silently turned BIGINT keys into DOUBLE and
produced pure dtype-artifact failures), and writes parquet version 2.6,
which keeps TIMESTAMP(NANOS) columns nanos.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
from typing import Callable, NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq

CORPUS = ("lineitem", "events", "documents", "embeddings")


def copy_fixture(src: str, out: str) -> None:
    """Make ``out`` a fresh directory holding a copy of every parquet
    table in ``src``."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src, f), os.path.join(out, f))


def _path(out: str, table: str) -> str:
    return os.path.join(out, f"{table}.parquet")


def _write(t: pa.Table, path: str) -> None:
    pq.write_table(t, path, version="2.6")


def rewrite(out: str, table: str, col: str, fn, via: pa.DataType | None = None) -> int:
    """Replace column ``col`` of ``table`` in ``out`` by ``fn(values)``,
    keeping the column's physical type. ``values`` is the column as a
    Python list, cast to ``via`` first when given (and cast back after).
    Returns the number of rows whose value changed."""
    path = _path(out, table)
    t = pq.read_table(path)
    idx = t.schema.get_field_index(col)
    field = t.schema.field(idx)
    typ = field.type if via is None else via
    old = t.column(idx).cast(typ).to_pylist()
    new = fn(list(old))
    _write(t.set_column(idx, field, pa.array(new, type=typ).cast(field.type)), path)
    return sum(a != b for a, b in zip(old, new))


def _truncate(out: str, table: str, n: int) -> int:
    """Keep the first ``n`` rows of ``table``; returns rows removed."""
    path = _path(out, table)
    t = pq.read_table(path)
    _write(t.slice(0, n), path)
    return t.num_rows - min(n, t.num_rows)


def _every(k: int, make, nulls: bool = False):
    """A ``rewrite`` fn replacing row i when ``i % k == 0`` (and the value
    is non-null, unless ``nulls``) by ``make(v, i)``."""
    def fn(vals):
        return [
            make(v, i) if i % k == 0 and (nulls or v is not None) else v
            for i, v in enumerate(vals)
        ]
    return fn


def _sync_n_chars(out: str) -> int:
    """Keep documents.n_chars equal to len(text) (the intake contract the
    clean generator upholds) after a text rewrite."""
    texts = pq.read_table(_path(out, "documents")).column("text").to_pylist()
    return rewrite(
        out, "documents", "n_chars",
        lambda _: [None if s is None else len(s) for s in texts],
    )


def empty(out: str) -> dict[str, int]:
    """EVERY table has ZERO rows with its schema preserved. The degenerate
    boundary every operator meets on day one of a new deployment, before
    any data lands, and the shape that exposed the bootstrap CI's
    crossJoin-with-empty collapse (round 12: a 1-row FILTER over an empty
    corpus yields zero rows and nukes the whole panel, where a scalar
    subquery yields one NULL-bound row).

    The three recorded failures are by-design loud Spark guards
    (ridge_probe / logistic_probe: "embeddings table is empty";
    streaming_silver_merge: "no usable purchase events"). The round-12
    classified non-passes were closed in round 13: the oracle twins'
    empty-index CTE errors (embedding_neardup / knn_lsh / ann_recall_audit)
    by coalescing the mean-centering CTE's avg() to 0 on empty input, and
    the ROLLUP/CUBE-on-empty-relation boundary by
    ``window_ops._grand_total_if_empty`` (pinned by
    tests/test_grouping_sets_empty.py)."""
    tables = [f[: -len(".parquet")] for f in sorted(os.listdir(out))]
    return {t: _truncate(out, t, 0) for t in tables}


def onerow(out: str) -> dict[str, int]:
    """Each of the four CORPUS tables holds exactly its FIRST row; every
    dimension table plus orders stays full. The boundary between the empty
    sweep and normal data: n = 1, where every degenerate denominator lives:

    - sample variance / stddev / correlation: n-1 = 0 -> NULL on both
      engines (and anything dividing by it downstream);
    - lag/lead/gap analysis: every lag is NULL, gap aggregates see zero
      samples;
    - percentiles/median over a single value: all quantiles equal it;
    - pair miners (shingle index, MinHash bands, aHash, co-purchase): one
      doc/vector can never pair, so every pair surface must be EMPTY, not
      an error;
    - clustering/IVF/kmeans: k > n, centroid sets collapse to the one
      point and assignment must still be deterministic;
    - TF-IDF / df statistics: df = N = 1 -> idf = ln(1) = 0;
    - bootstrap/sampling: resampling a 1-row corpus, splits where one side
      is necessarily empty.

    Keeping dims + orders full isolates the n=1 semantics: FK joins still
    land, so a divergence here is a degenerate-denominator bug, not an
    empty-join artifact. The recorded failure is streaming_silver_merge's
    by-design loud guard (the single event is not a purchase). The first
    run crashed value_outliers with an ANSI DIVIDE_BY_ZERO (sample
    variance's n-1 denominator at n=1), fixed with engine-mirrored NULLIF
    guards. ridge_probe/logistic_probe handle n=1 without their empty-table
    guards firing (the single-point fit is degenerate but deterministic
    and engine-identical)."""
    return {t: _truncate(out, t, 1) for t in sorted(CORPUS)}


JSON_SHAPES = [
    # malformed
    "", '{"k": ', "not json", "null", None,
    # VALID json, wrong-TYPE k (ADVICE r11): every engine/path must
    # degrade these to NULL; the typed variant probe coerced true->1 and
    # 1.5->1, and DuckDB's bare TRY_CAST rounded "1.5"->2, before the
    # string-probe + integer-literal-guard convention
    '{"k": "abc"}', '{"k": true}', '{"k": 1.5}', '{"k": [1,2]}',
    '{"k": {"x": 1}}', '{"k": null}', "{}",
]


def json_props(out: str) -> dict[str, int]:
    """~5% of events.props carry the malformation shapes a real webhook
    feed produces (empty string, truncated object, non-JSON text, bare
    null, NULL) plus valid JSON whose ``k`` has the wrong type. Spark's
    ``get_json_object`` is LENIENT (malformed -> NULL); DuckDB's
    ``json_extract_string`` ERRORS on malformed input, so any twin that
    feeds raw props to the JSON extractor without a validity guard fails
    LOUDLY on this fixture rather than silently diverging."""
    shape = lambda v, i: JSON_SHAPES[(i // 20) % len(JSON_SHAPES)]  # noqa: E731
    props = rewrite(out, "events", "props", _every(20, shape, nulls=True))
    return {"events.props": props}


TEXT_SHAPES = [
    "",
    "   \t\n  ",
    "x",
    "?!.,;: ?!.,;: ?!.,;:",
    ("the quick brown fox jumps over the lazy dog " * 450).strip(),
]


def text(out: str) -> dict[str, int]:
    """5% of documents.text rotates through degenerate shapes: empty
    string, whitespace-only, a single character, punctuation-only (zero
    tokens under the [a-z0-9]+ class) and a ~20k-char repeated-phrase
    giant, with n_chars recomputed to stay consistent. Every tokenizer,
    shingler, chunker, quality gate and fingerprint must agree
    cross-engine on token-less and pathologically long documents; the
    clean corpus never exercises those branches."""
    shape = lambda v, i: TEXT_SHAPES[(i // 20) % len(TEXT_SHAPES)]  # noqa: E731
    return {
        "documents.text": rewrite(
            out, "documents", "text", _every(20, shape, nulls=True)),
        "documents.n_chars": _sync_n_chars(out),
    }


PER_HOUR = {"s": 3600, "ms": 3_600_000, "us": 3_600_000_000, "ns": 3_600_000_000_000}


def tie(out: str) -> dict[str, int]:
    """Sort-key collisions: (a) 20% of events.ts are floored to the hour,
    mass (user_id, ts) ties that every sessionization / lag / rank /
    running-aggregate surface must break deterministically, and (b) ~2% of
    embeddings duplicate the PREVIOUS row's vector under a different
    vec_id, exact cosine ties at top-k boundaries that only a vec_id
    tie-break resolves. Every ORDER BY that forgot its full tie-break
    diverges cross-engine here and is invisible on the clean testdata
    (unique timestamps, distinct vectors)."""
    unit = pq.read_schema(_path(out, "events")).field("ts").type.unit
    hour = PER_HOUR[unit]

    def dup_previous(vals):
        return [
            vals[i - 1] if i % 50 == 1 and vals[i - 1] is not None else v
            for i, v in enumerate(vals)
        ]

    return {
        "events.ts": rewrite(
            out, "events", "ts", _every(5, lambda v, i: v // hour * hour),
            via=pa.int64()),
        "embeddings.embedding": rewrite(out, "embeddings", "embedding", dup_previous),
    }


MAGNITUDE_TARGETS = {
    "customer": "c_acctbal",
    "events": "value",
    "lineitem": "l_extendedprice",
    "orders": "o_totalprice",
}


def magnitude(out: str) -> dict[str, int]:
    """~2% of the money/metric columns are replaced by +-1e15-scale
    outliers: non-null row i with i % 50 == 0 becomes +9.99e15 when
    i % 100 == 0, else -9.99e15. The corrupt-ingest shape that pushes
    double-rounding and double-sum association order across the engines'
    float boundary.

    Recorded failures: four loud symmetric ANSI errors past the documented
    fences (revenue_concentration, upsert_merge, pricing_summary,
    streaming_silver_merge: ARITHMETIC_OVERFLOW / CAST_OVERFLOW /
    NUMERIC_VALUE_OUT_OF_RANGE) and decayed_engagement, the documented
    silent inherent-float divergence (exponential decay has no exact
    integer form; fenced upstream by input_bounds_audit /
    quarantine_out_of_bounds)."""
    outlier = lambda v, i: 9.99e15 if i % 100 == 0 else -9.99e15  # noqa: E731
    return {
        f"{t}.{c}": rewrite(out, t, c, _every(50, outlier))
        for t, c in MAGNITUDE_TARGETS.items()
    }


def halfcent(out: str) -> dict[str, int]:
    """~1% of every money/rate/value column sits exactly ON the decimal
    half-boundary in its shortest repr while being OFF the cent/percent
    grid (8.165, 1.005, x.165, 0.045-class values). Spark's round(v, s)
    quantizes HALF_UP on the shortest decimal REPR (8.165 -> 8.17) while
    DuckDB's round() follows the BINARY value (8.165 -> 8.16), so any
    surface that pre-rounds a raw input at fixed scale splits engines on
    exactly these inputs, invisible on clean cent-quantized testdata.

    What the round-13 probe established (and this fixture pins):

    - the EXACT integer paths are immune by construction: round(v * 100)
      rounds the PRODUCT (816.4999999999999), whose binary value and repr
      agree on the downhill side; both engines emit 816;
    - both engines' double->DECIMAL(38,2) casts are repr-faithful and
      AGREE (8.165 -> 8.17), the portable rendering form table_profile
      uses;
    - multi-row aggregates wash the boundary out.

    No recorded failures: any failure is a surface still pre-rounding a
    raw per-row double at fixed scale and must get the direct-cast form.
    The planted rows are off the x100 grid, so ``input_bounds_audit``'s
    ``n_offgrid`` counters (ADVICE r12) must read EXACTLY the planted
    counts this fixture reports."""
    # integer dollars + .165 / .005 half-boundary cents
    money = lambda v, i: math.floor(abs(v)) + (0.165 if i % 2 else 0.005)  # noqa: E731
    plants = [
        ("orders", "o_totalprice", 100, money),
        ("lineitem", "l_extendedprice", 100, money),
        ("events", "value", 100, money),
        # rates: percent half-boundaries off the integer-percent grid
        ("lineitem", "l_discount", 200, lambda v, i: 0.045 if i % 400 else 0.125),
        ("lineitem", "l_tax", 200, lambda v, i: 0.015 if i % 400 else 0.375),
        # balances: one boundary value per dimension table
        ("customer", "c_acctbal", 75, lambda v, i: 8.165),
        ("supplier", "s_acctbal", 7, lambda v, i: 1.005),
    ]
    return {f"{t}.{c}": rewrite(out, t, c, _every(k, make)) for t, c, k, make in plants}


BOILERPLATE = (
    "all rights reserved unauthorized reproduction of this document "
    "is strictly prohibited"
)


def _hot(pick, keep_every: int):
    """A ``rewrite`` fn setting every non-null row except each
    ``keep_every``-th (so variety survives for guards that need it) to the
    hot value ``pick(non-null values)``."""
    def fn(vals):
        hot = pick(v for v in vals if v is not None)
        return [
            hot if i % keep_every and v is not None else v
            for i, v in enumerate(vals)
        ]
    return fn


def _first(vals):
    return next(iter(vals))


def skew(out: str) -> dict[str, int]:
    """Extreme key skew: 90% of every fact-table foreign key collapses onto
    ONE hot key (the minimum key of its dimension, so referential integrity
    is preserved), 50% of documents are byte-identical copies of one
    document, 90% of documents share one boilerplate sentence, and a third
    of embeddings are copies of one vector: one viral customer / SKU / user
    / template document dominating the corpus.

    Skew is a PERFORMANCE property, not a semantic one, so there are no
    recorded failures. Anything that diverges is a real bug in a class the
    clean testdata (near-uniform keys, distinct texts) can never show:

    - salt leakage: salted aggregation must produce byte-identical results
      whether or not the salt path engages (the hot event_type engages it);
    - bucketed pair-join mega-buckets: MinHash / SimHash / aHash banding
      and the df-capped shingle index must enumerate the SAME pair set as
      the oracle when one bucket holds half the corpus;
    - a HOT SHINGLE across DISTINCT documents (the boilerplate): its df
      dwarfs max_df while the docs stay unique, so the df cap's own
      aggregation key is skewed (VERDICT r13 #1);
    - giant-component convergence: connected components over the dup
      cluster must still converge and label identically;
    - top-k under mass value ties: identical texts mean identical quality
      scores / TF-IDF weights / fingerprints, so every top-k that forgot a
      full deterministic tie-break diverges here.

    Only FK/label columns and text/embedding payloads change; measure
    columns are untouched, so the magnitude fences and bounds audits are
    inert."""
    planted = {}
    for t, c, pick, keep in [
        ("orders", "o_custkey", min, 10),
        ("lineitem", "l_partkey", min, 10),
        ("lineitem", "l_suppkey", min, 10),
        ("events", "user_id", min, 10),
        ("events", "event_type", _first, 10),
        ("documents", "text", _first, 2),
    ]:
        planted[f"{t}.{c}"] = rewrite(out, t, c, _hot(pick, keep))
    planted["documents.text (boilerplate)"] = rewrite(
        out, "documents", "text",
        lambda vals: [v + " " + BOILERPLATE if i % 10 and v is not None else v
                      for i, v in enumerate(vals)],
    )
    planted["documents.n_chars"] = _sync_n_chars(out)
    for t, c, keep in [
        ("documents", "lang", 10),
        ("documents", "source", 10),
        ("embeddings", "embedding", 3),
    ]:
        planted[f"{t}.{c}"] = rewrite(out, t, c, _hot(_first, keep))
    return planted


class Fixture(NamedTuple):
    build: Callable[[str], dict[str, int]]  # out dir -> rows changed per target
    expected: frozenset[str]  # oracle failures recorded on this fixture


FIXTURES: dict[str, Fixture] = {
    "empty": Fixture(empty, frozenset(
        {"ridge_probe", "logistic_probe", "streaming_silver_merge"})),
    "onerow": Fixture(onerow, frozenset({"streaming_silver_merge"})),
    "json": Fixture(json_props, frozenset()),
    "text": Fixture(text, frozenset()),
    "tie": Fixture(tie, frozenset()),
    "magnitude": Fixture(magnitude, frozenset({
        "revenue_concentration", "upsert_merge", "pricing_summary",
        "decayed_engagement", "streaming_silver_merge"})),
    "halfcent": Fixture(halfcent, frozenset()),
    "skew": Fixture(skew, frozenset()),
}


def build(name: str, src: str, out: str) -> dict[str, int]:
    """Write fixture ``name`` of ``src`` into a fresh ``out``; returns the
    rows changed per rewritten column (per table for row truncation)."""
    copy_fixture(src, out)
    return FIXTURES[name].build(out)


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1] not in FIXTURES:
        print(f"usage: sweep.py <{'|'.join(FIXTURES)}> [src_sf_dir] [out_dir]")
        return 2
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import check_oracle  # also puts the repo on sys.path
    from xboard_spark.io import DEFAULT_SF_DIR

    name = sys.argv[1]
    # default source: the sf0.001 dir beside the default sf dir
    src = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        tempfile.gettempdir(), f"{name}_fixture")
    for target, n in build(name, src, out).items():
        print(f"{target}: {n} rows changed")
    print(out, flush=True)

    failed = set(check_oracle.run(out))
    expected = FIXTURES[name].expected
    if failed == expected:
        print(f"{name}: failing set matches the recorded {sorted(expected)}")
        return 0
    print(f"{name}: failing set differs from the recorded one; "
          f"new failures {sorted(failed - expected)}, "
          f"recorded but passing {sorted(expected - failed)}")
    return 1


if __name__ == "__main__":
    sys.exit(main())
