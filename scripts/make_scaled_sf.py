"""Synthesize a larger scale factor from an existing testdata dir by
key-shifted replication — size-scaling EVIDENCE tooling for the round-8
optimization report (r7 verdict item 4 asked for a generated sf0.3+
slope), NOT part of the query surface and never imported by it.

Copy k (k = 0..K-1) of each fact row shifts its primary key by k * span
(span = max key + 1 in the base table); lineitem's foreign key into
orders shifts together so joins stay consistent; dimension tables
(customer/nation/region/part/supplier) and every non-key attribute are
copied verbatim.  Payload distributions (document texts, embedding
vectors, event timestamps) are therefore exactly the base corpus at K×
volume: per-user/window densities grow K×, duplicate-text groups grow
K× (a deliberate stress for the dedup/LSH bucket kernels).  Both
engines read the same parquet, so scripts/selfcheck.py remains a full
engine-vs-oracle parity gate at the synthetic size.

Usage: python scripts/make_scaled_sf.py SRC_DIR DST_DIR K
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# fact table -> columns that shift by k * span (first one defines span)
FACT_KEYS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
}
# lineitem's span must follow ORDERS' key space, not its own max
SPAN_FROM = {"lineitem": "orders"}


def main() -> None:
    src, dst, k_str = sys.argv[1], sys.argv[2], sys.argv[3]
    k_copies = int(k_str)
    os.makedirs(dst, exist_ok=True)

    max_key: dict[str, int] = {}
    for name, keys in FACT_KEYS.items():
        t = pq.read_table(f"{src}/{name}.parquet", columns=[keys[0]])
        mx = pc.max(t[keys[0]]).as_py()
        if mx is None:
            raise ValueError(
                f"{src}/{name}.parquet: fact table {name!r} has no {keys[0]} "
                "values; a span cannot be derived from an empty table"
            )
        max_key[name] = int(mx)
    spans = {name: mx + 1 for name, mx in max_key.items()}
    for name, parent in SPAN_FROM.items():
        # copy k of a child key must stay inside copy k of the parent's key
        # space, else it collides with copy k+1's parent keys
        if max_key[name] >= spans[parent]:
            raise ValueError(
                f"{name}: max {FACT_KEYS[name][0]} {max_key[name]} is outside "
                f"{parent}'s key span {spans[parent]}; shifted copies would collide"
            )
        spans[name] = spans[parent]

    for fname in sorted(os.listdir(src)):
        if not fname.endswith(".parquet"):
            continue
        name = fname[: -len(".parquet")]
        t = pq.read_table(f"{src}/{fname}")
        if name not in FACT_KEYS:
            pq.write_table(t, f"{dst}/{fname}")
            print(f"{name}: dimension, copied verbatim ({t.num_rows} rows)")
            continue
        span = spans[name]
        copies = []
        for k in range(k_copies):
            c = t
            for key in FACT_KEYS[name]:
                field_t = c.schema.field(key).type
                # add_checked: an overflowing shift raises instead of wrapping
                shifted = pc.cast(
                    pc.add_checked(c[key], pa.scalar(k * span, type=field_t)), field_t
                )
                c = c.set_column(c.schema.get_field_index(key), key, shifted)
            copies.append(c)
        out = pa.concat_tables(copies)
        pq.write_table(out, f"{dst}/{fname}")
        print(f"{name}: {t.num_rows} -> {out.num_rows} rows (span {span})")
    # mirror the driver's completion marker so tooling that looks for it
    # treats the dir as fully written
    open(os.path.join(dst, "_DONE"), "w").close()


if __name__ == "__main__":
    main()
