"""The generators are pure functions of their seed."""

import os

import pyarrow.parquet as pq

import gen


def test_tables_are_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write_tables(a, seed=7)
    gen.write_tables(b, seed=7)
    gen.write_tables(c, seed=8)
    assert sorted(os.listdir(a)) == [f"{t}.parquet" for t in sorted(gen.TABLES)]
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)
    # the sf0.01 row counts, in one row group per file
    for name, rows in gen.TABLE_ROWS.items():
        meta = pq.ParquetFile(os.path.join(a, f"{name}.parquet")).metadata
        assert (meta.num_rows, meta.num_row_groups) == (rows, 1)
    # timestamps as the sf tiers store them: INT64 micros, not UTC-adjusted
    for name, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate"),
                      ("events", "ts")):
        schema = pq.ParquetFile(os.path.join(a, f"{name}.parquet")).schema
        column = schema.column(schema.names.index(col))
        assert column.physical_type == "INT64"
        assert "timeUnit=microseconds" in str(column.logical_type)
        assert "isAdjustedToUTC=false" in str(column.logical_type)


def _container(path, seed):
    box = gen.Container(str(path), seed)
    drops = [box.drop(big=i == 1) for i in range(3)]
    return box, drops


def test_container_is_deterministic_per_seed(tmp_path):
    a, drops_a = _container(tmp_path / "a", 3)
    b, drops_b = _container(tmp_path / "b", 3)
    c, _ = _container(tmp_path / "c", 4)
    assert drops_a == drops_b
    assert gen.digest(a.path) == gen.digest(b.path)
    assert gen.digest(a.path) != gen.digest(c.path)


def test_container_shape(tmp_path):
    box, drops = _container(tmp_path / "a", 5)
    names = os.listdir(box.path)
    zips = [n for n in names if n.endswith(".zip")]
    assert len(zips) == len(box.archives)
    assert any(not n.endswith(".zip") for n in names)  # non-.zip decoys
    assert any(p is None for p in box.archives.values())  # archives without payload
    # the newest archive is the last one dropped, and it carries a payload
    assert max(box.archives) == drops[-1][0]
    assert len(drops[1][1]) > 1 << 20 > len(drops[0][1])
    # the container dwarfs any one small snapshot
    assert box.size_bytes() > 20 * os.path.getsize(os.path.join(box.path, drops[0][0]))
