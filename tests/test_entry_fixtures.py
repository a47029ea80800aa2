"""The fixture layer of ``__spark_entry__.py``: the artifact store
every DuckDB-twinned entry materializes its input through, and the
planted conversation entries' invariance to the physical plan."""

import importlib.util
import shutil
from pathlib import Path

import pytest
from test_entry_oracle import SF_DIR  # the SF the recorded digests cover

import __spark_entry__ as em

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture
def store(monkeypatch, tmp_path):
    """An empty memo, and atexit registrations recorded, not made (after
    tmp_path, which registers its own)."""
    registered = []
    monkeypatch.setattr(em, "_ARTIFACTS", set())
    monkeypatch.setattr(
        em.atexit, "register", lambda *a, **k: registered.append((a, k))
    )
    return registered


def test_artifact_builds_once_per_path(store, tmp_path):
    calls = []

    def build(path):
        calls.append(path)
        Path(path).mkdir()
        (Path(path) / "part-0.parquet").write_bytes(b"x")

    path = str(tmp_path / "a")
    assert em._artifact(path, build) == path
    assert em._artifact(path, build) == path
    assert calls == [path]
    assert em._ARTIFACTS == {path}
    assert store == [((shutil.rmtree, path), {"ignore_errors": True})]


def test_artifact_failed_build_leaves_no_memo_and_is_retried(store, tmp_path):
    calls = []

    def flaky(path):
        calls.append(path)
        Path(path).mkdir()
        if len(calls) == 1:
            raise RuntimeError("write failed half-way")
        (Path(path) / "part-0.parquet").write_bytes(b"x")

    path = str(tmp_path / "b")
    with pytest.raises(RuntimeError):
        em._artifact(path, flaky)
    assert em._ARTIFACTS == set()
    assert store == []
    assert not Path(path).exists()  # the partial write is gone
    assert em._artifact(path, flaky) == path
    assert em._artifact(path, flaky) == path
    assert len(calls) == 2
    assert (Path(path) / "part-0.parquet").exists()
    assert em._ARTIFACTS == {path}
    assert store == [((shutil.rmtree, path), {"ignore_errors": True})]


def _digests():
    spec = importlib.util.spec_from_file_location(
        "entry_digests", ROOT / "scripts" / "entry_digests.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.digest


def test_planted_entries_plan_invariant(spark):
    """Three shuffle-heavy planted-conversation entries give the rows
    recorded in BENCH/entry_digests_sf0.01.txt (local[4], 8 shuffle
    partitions, AQE on) at 1 shuffle partition and at 7 with AQE off."""
    names = (
        "dedup_apply_conversations", "preference_pairs",
        "conversation_branches",
    )
    recorded = {
        name: rest
        for name, rest in (
            line.split(" ", 1)
            for line in (ROOT / "BENCH" / "entry_digests_sf0.01.txt")
            .read_text().splitlines()
        )
    }
    digest = _digests()
    qs = em.queries()
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for partitions, aqe in (("1", saved[keys[1]]), ("7", "false")):
            spark.conf.set(keys[0], partitions)
            spark.conf.set(keys[1], aqe)
            for name in names:
                n, sha = digest(qs[name](spark, SF_DIR))
                assert f"{n} {sha}" == recorded[name], (name, partitions, aqe)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
