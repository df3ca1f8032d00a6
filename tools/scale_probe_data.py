"""Synthesize an N-fold scale-up of an sf dir for the SCALING PROBE
(VERDICT r13 #3): at sf0.1 every query is fixed-overhead-bound (the r13
8-core run beat the 32-core run), so scale-safety claims need a data
point where parallel work dominates. Each copy is a DISJOINT universe —
int64 keys shifted by copy * 1e7, every document token suffixed with a
per-copy tag (so shingle/span fingerprints never collide across copies
and the df/near-dup structure of one copy is exactly the source's),
embeddings' first component nudged per copy (no cross-copy exact-dup
vectors). Per-copy query semantics are therefore the source's; totals
scale by N. This is a PERFORMANCE fixture: nothing here feeds the
oracle gate or the driver bench.

Usage: python tools/scale_probe_data.py [src_sf_dir] [out_dir] [copies]
"""

from __future__ import annotations

import os
import re
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SHIFT = 10_000_000  # > every int64 key in any sf dir

_TOKEN = re.compile(r"[A-Za-z0-9]+")


def _check_shift(table: pa.Table, fname: str, shift_cols: set) -> None:
    """Copy c adds c * SHIFT to every shifted key, so the copies stay
    disjoint only while each key lies in [0, SHIFT)."""
    for name in sorted(shift_cols):
        mm = pc.min_max(table.column(name)).as_py()
        if mm["min"] is not None and not (0 <= mm["min"] and mm["max"] < SHIFT):
            raise ValueError(
                f"{fname}: key column {name} spans [{mm['min']}, {mm['max']}], "
                f"outside [0, {SHIFT}); copies would collide"
            )


def _scaled(table: pa.Table, copies: int, shift_cols: dict, fns: dict) -> pa.Table:
    parts = []
    for c in range(copies):
        cols = []
        for name in table.schema.names:
            col = table.column(name)
            if c == 0:
                cols.append(col)
                continue
            if name in shift_cols:
                cols.append(pc.add(col, c * SHIFT))
            elif name in fns:
                cols.append(fns[name](col, c))
            else:
                cols.append(col)
        parts.append(pa.table(cols, names=table.schema.names))
    out = pa.concat_tables(parts)
    # normalize back to the source physical types (add() may widen)
    return out.cast(table.schema)


def _tag_text(col: pa.ChunkedArray, c: int):
    tag = f"x{c}"
    vals = col.to_pylist()
    return pa.array(
        [None if v is None else _TOKEN.sub(lambda m: m.group(0) + tag, v)
         for v in vals],
        type=col.type,
    )


def _nudge_vec(col: pa.ChunkedArray, c: int):
    vals = col.to_pylist()
    out = []
    for v in vals:
        if v is None or not v:
            out.append(v)
        else:
            out.append([v[0] + 0.37 * c] + v[1:])
    return pa.array(out, type=col.type)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/root/sfprobe/sf1"
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)

    plan = {
        "customer.parquet": ({"c_custkey"}, {}),
        "supplier.parquet": ({"s_suppkey"}, {}),
        "part.parquet": ({"p_partkey"}, {}),
        "orders.parquet": ({"o_orderkey", "o_custkey"}, {}),
        "lineitem.parquet": ({"l_orderkey", "l_partkey", "l_suppkey"}, {}),
        "events.parquet": ({"event_id", "user_id"}, {}),
        "documents.parquet": ({"doc_id"}, {"text": _tag_text}),
        "embeddings.parquet": ({"vec_id"}, {"embedding": _nudge_vec}),
        "nation.parquet": None,  # bounded enums: copy unchanged
        "region.parquet": None,
    }
    for fname, spec in plan.items():
        srcp = os.path.join(src, fname)
        outp = os.path.join(out, fname)
        if spec is None:
            shutil.copy(srcp, outp)
            print(f"{fname}: copied")
            continue
        shift_cols, fns = spec
        t = pq.read_table(srcp)
        _check_shift(t, fname, shift_cols)
        s = _scaled(t, copies, shift_cols, fns)
        if fname == "documents.parquet":
            # keep the n_chars intake contract consistent with the text
            texts = s.column("text").to_pylist()
            idx = s.schema.get_field_index("n_chars")
            s = s.set_column(
                idx, s.schema.field(idx),
                pa.array([None if x is None else len(x) for x in texts],
                         type=s.schema.field(idx).type),
            )
        pq.write_table(s, outp, version="2.6")
        print(f"{fname}: {t.num_rows} -> {s.num_rows} rows")
    print(out)


if __name__ == "__main__":
    main()
