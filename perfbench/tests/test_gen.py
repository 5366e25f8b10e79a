"""Generator determinism and input shape (no Spark needed)."""

import filecmp
import json

import numpy as np

from perfbench import gen


def _stream_files(seed, out_dir, n=12):
    out_dir.mkdir()
    s = gen.SalesStream(seed, preseed_rows=500, file_rows=50)
    return s, [s.write_file(i, str(out_dir)) for i in range(n)]


def test_same_seed_writes_byte_identical_files(tmp_path):
    a, fa = _stream_files(7, tmp_path / "a")
    b, fb = _stream_files(7, tmp_path / "b")
    for (pa_, ma), (pb, mb) in zip(fa, fb):
        assert ma == mb
        assert filecmp.cmp(pa_, pb, shallow=False)
    assert a.preseed().equals(b.preseed())
    gen.write_star_schema(7, str(tmp_path / "sa"), orders=300, docs=40)
    gen.write_star_schema(7, str(tmp_path / "sb"), orders=300, docs=40)
    for f in (tmp_path / "sa").iterdir():
        assert filecmp.cmp(f, tmp_path / "sb" / f.name, shallow=False)


def test_other_seed_writes_other_files(tmp_path):
    _, fa = _stream_files(7, tmp_path / "a", n=1)
    _, fb = _stream_files(8, tmp_path / "b", n=1)
    assert not filecmp.cmp(fa[0][0], fb[0][0], shallow=False)


def _csv_uuids(path):
    with open(path) as fh:
        next(fh)
        return [int(line.split(",", 1)[0]) for line in fh]


def _json_rows(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh]


def test_stream_shape(tmp_path):
    s, files = _stream_files(3, tmp_path / "in", n=20)
    pre = set(s.preseed().column("uuid").to_pylist())
    assert len(pre) == 500 and all(10**8 <= u < 10**9 for u in pre)
    assert [p.rsplit(".", 1)[1] for p, _ in files[:4]] == ["csv", "json"] * 2
    assert sum(m is not None for _, m in files) == 2
    seen_new = set()
    for path, mutation in files:
        if path.endswith(".csv"):
            uuids = _csv_uuids(path)
        else:
            uuids = [r["uuid"] for r in _json_rows(path)]
        if mutation == "dup_uuid":
            assert len(set(uuids)) == len(uuids) - 1
            continue
        assert len(set(uuids)) == len(uuids) == 50
        updates = set(uuids) & pre
        assert len(updates) == 10  # 20% of each file re-uses pre-seed keys
        new = set(uuids) - pre
        assert not new & seen_new  # CSV and NDJSON twins never share a key
        seen_new |= new


def test_serialization_quirks(tmp_path):
    rows = gen.sales_rows(np.random.default_rng(0), np.arange(10**8, 10**8 + 30))
    gen.write_sales(str(tmp_path / "x.json"), rows, "json")
    gen.write_sales(str(tmp_path / "x.csv"), rows, "csv")
    text = (tmp_path / "x.json").read_text()
    assert '\\/' in text  # escaped-slash dates
    recs = [json.loads(line) for line in text.splitlines()]
    assert recs[0]["TotalRevenue"] == rows["TotalRevenue"][0]  # raw float64
    assert recs[0]["TotalRevenue"] == recs[0]["UnitsSold"] * recs[0]["UnitPrice"]
    m, d, y = recs[0]["OrderDate"].split("/")
    assert len(m) == len(d) == 2 and len(y) == 4
    header = (tmp_path / "x.csv").read_text().splitlines()[0]
    assert header.split(",") == gen.COLUMNS


def test_mutations(tmp_path):
    rows = gen.sales_rows(np.random.default_rng(1), np.arange(10**8, 10**8 + 20))
    for kind in gen.MUTATIONS:
        p = tmp_path / f"{kind}.csv"
        gen.write_sales(str(p), rows, "csv", kind, np.random.default_rng(2))
        lines = p.read_text().splitlines()
        header, body = lines[0].split(","), lines[1:]
        if kind == "missing_column":
            assert "TotalProfit" not in header
        elif kind == "dup_uuid":
            assert len({b.split(",")[0] for b in body}) == len(body) - 1
        elif kind == "bad_date":
            assert sum("2016-03-24" in b for b in body) == 1
        else:
            assert sum(",abc," in b for b in body) == 1
