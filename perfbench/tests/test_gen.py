"""The generators are pure functions of (seed, size)."""

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

import gen


def _digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_star_same_seed_same_bytes(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write_star(str(a), 5, 0.002, 0.005)
    gen.write_star(str(b), 5, 0.002, 0.005)
    gen.write_star(str(c), 6, 0.002, 0.005)
    assert _digest(a) == _digest(b) != _digest(c)


def test_star_schema_and_near_dups(tmp_path):
    rows = gen.write_star(str(tmp_path), 1, 0.002, 0.005)
    assert rows == gen.star_sizes(0.002, 0.005)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    assert list(docs.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert (docs.n_chars == docs.text.str.len()).all()
    dups = docs[docs.text.str.endswith(" dup")]
    assert len(dups) == len(docs) // 20
    originals = set(docs.text)
    assert all(t[: -len(" dup")] in originals for t in dups.text)
    emb = pq.read_table(tmp_path / "embeddings.parquet")
    assert emb.schema.field("embedding").type.value_type == pa.float32()


def test_etl_expectations_follow_the_rows(tmp_path):
    a = gen.write_etl(str(tmp_path / "a"), 3, 2000, 2, 50)
    b = gen.write_etl(str(tmp_path / "b"), 3, 2000, 2, 50)
    assert a == b
    e = a["expect"]
    assert e["streaming_rows"] == 100
    assert len(os.listdir(tmp_path / "a" / "drops")) == 2
    loans = pq.read_table(tmp_path / "a" / "tables" / "user_loans.parquet")
    kept = sum(1 for s in loans.column("LoanStatus").to_pylist() if s != 6)
    # the late-strategy join can only add rows
    assert e["loan_detail"] >= kept
    assert 0 < e["detail_2025"] <= e["loan_detail"]
