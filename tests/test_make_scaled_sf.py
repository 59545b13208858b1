"""scripts/make_scaled_sf.py guards: a replication that would corrupt keys
fails loudly (empty fact table, orphan child key, key overflow) and a
clean input replicates with disjoint shifted key spaces."""

import importlib.util
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "make_scaled_sf.py")


def _load():
    spec = importlib.util.spec_from_file_location("make_scaled_sf", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_sf(d, orders=(0, 1, 2), lineitem=(0, 2), key_type=pa.int64()):
    os.makedirs(d, exist_ok=True)
    tables = {
        "documents": {"doc_id": [0, 1]},
        "embeddings": {"vec_id": [0]},
        "orders": {"o_orderkey": list(orders)},
        "lineitem": {"l_orderkey": list(lineitem)},
        "events": {"event_id": [5]},
    }
    for name, cols in tables.items():
        pq.write_table(
            pa.table({k: pa.array(v, type=key_type) for k, v in cols.items()}),
            f"{d}/{name}.parquet",
        )
    pq.write_table(pa.table({"n_nationkey": [0, 1]}), f"{d}/nation.parquet")


def _run(monkeypatch, src, dst, k):
    monkeypatch.setattr(sys, "argv", ["make_scaled_sf.py", str(src), str(dst), str(k)])
    _load().main()


def test_replicates_with_shifted_keys(tmp_path, monkeypatch):
    _write_sf(tmp_path / "src")
    _run(monkeypatch, tmp_path / "src", tmp_path / "dst", 3)
    orders = pq.read_table(tmp_path / "dst" / "orders.parquet")["o_orderkey"].to_pylist()
    lines = pq.read_table(tmp_path / "dst" / "lineitem.parquet")["l_orderkey"].to_pylist()
    assert orders == [0, 1, 2, 3, 4, 5, 6, 7, 8]
    assert lines == [0, 2, 3, 5, 6, 8]  # shifted by orders' span (3)
    assert pq.read_table(tmp_path / "dst" / "nation.parquet").num_rows == 2


def test_empty_fact_table_names_the_table(tmp_path, monkeypatch):
    _write_sf(tmp_path / "src", orders=())
    with pytest.raises(ValueError, match="'orders'"):
        _run(monkeypatch, tmp_path / "src", tmp_path / "dst", 2)


def test_orphan_child_key_outside_parent_span(tmp_path, monkeypatch):
    _write_sf(tmp_path / "src", lineitem=(0, 7))
    with pytest.raises(ValueError, match="lineitem"):
        _run(monkeypatch, tmp_path / "src", tmp_path / "dst", 2)


def test_key_overflow_raises_instead_of_wrapping(tmp_path, monkeypatch):
    top = 2**31 - 10
    _write_sf(tmp_path / "src", orders=(0, top), lineitem=(0,), key_type=pa.int32())
    with pytest.raises(pa.ArrowInvalid, match="overflow"):
        _run(monkeypatch, tmp_path / "src", tmp_path / "dst", 2)
