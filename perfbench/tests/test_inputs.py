"""The input generators are pure functions of their seed."""

from __future__ import annotations

import filecmp
import os

from perfbench import inputs


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_parcel_landing_is_deterministic_per_seed(tmp_path):
    truths = [
        inputs.write_parcel_landing(str(tmp_path / d), seed, 200, 3)
        for d, seed in (("a", 5), ("b", 5), ("c", 6))
    ]
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert truths[0] == truths[1]
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_parcel_ids_are_unique_across_files(tmp_path):
    truth = inputs.write_parcel_landing(str(tmp_path), 1, 300, 4)
    # 300 shipments plus two edge ids per file; no id repeats across files
    assert truth["rows"]["DimShipping"] == 300 + 2 * 4
    assert truth["kpi"]["total_packages"] == 300 + 2 * 4
    assert len(os.listdir(tmp_path)) == 4


def test_curation_corpus_is_deterministic_per_seed(tmp_path):
    paths = [str(tmp_path / f"{d}.parquet") for d in "abc"]
    for path, seed in zip(paths, (3, 3, 4)):
        assert inputs.write_curation_corpus(path, seed, 100, 3) == {"docs": 300}
    assert filecmp.cmp(paths[0], paths[1], shallow=False)
    assert not filecmp.cmp(paths[0], paths[2], shallow=False)


def test_catalog_tables_are_deterministic(tmp_path):
    for d in ("a", "b"):
        inputs.write_catalog_tables(str(tmp_path / d), 11)
    assert sorted(os.listdir(tmp_path / "a")) == sorted(
        f"{t}.parquet" for t in inputs.CATALOG_TABLES
    )
    assert _same_tree(tmp_path / "a", tmp_path / "b")
