import os

import pyarrow.parquet as pq

import datagen


def _write(tmp_path, name, seed):
    t = datagen.make_table("classifier", 1000, 5, seed, stream=0)
    path = str(tmp_path / name)
    datagen.write_parquet(t, path, n_files=3, row_group_rows=100)
    return path


def _bytes(path):
    return [open(os.path.join(path, f), "rb").read()
            for f in sorted(os.listdir(path))]


def test_same_seed_same_files(tmp_path):
    a = _write(tmp_path, "a", seed=7)
    assert _bytes(a) == _bytes(_write(tmp_path, "b", seed=7))
    assert _bytes(a) != _bytes(_write(tmp_path, "c", seed=8))


def test_several_files_and_row_groups(tmp_path):
    path = _write(tmp_path, "a", seed=1)
    files = sorted(os.listdir(path))
    assert len(files) == 3
    meta = pq.ParquetFile(os.path.join(path, files[0])).metadata
    assert meta.num_row_groups == 4            # 334 rows in groups of 100
    t = pq.read_table(path)
    assert t.num_rows == 1000
    assert set(t.column_names) == {"f00", "f01", "f02", "f03", "f04",
                                  "label", "is_val"}
