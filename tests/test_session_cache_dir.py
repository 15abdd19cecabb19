"""index_cache_dir trust boundary (ADVICE r8): artifacts under this dir
FEED QUERY OUTPUTS (classifier weights, BPE merges, IVF-PQ codebooks,
semantic stores), so the dir must be provably ours — a pre-created dir
owned by someone else, or a planted symlink/file, must raise instead of
silently serving substituted results. The commit protocol that keeps
those artifacts (cached_artifact, atomic_write, swap_dir) is pinned
here too. No Spark session needed."""

from __future__ import annotations

import json
import os

import pytest

from c_tran_data_pipeline_spark.session import atomic_write, cached_artifact, index_cache_dir


@pytest.fixture()
def override_env(tmp_path, monkeypatch):
    def set_to(p: str) -> None:
        monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", p)

    return set_to


def test_creates_0700_and_is_idempotent(tmp_path, override_env):
    target = str(tmp_path / "idx")
    override_env(target)
    p = index_cache_dir()
    assert p == target
    assert (os.stat(p).st_mode & 0o777) == 0o700
    assert index_cache_dir() == target  # reuse of our own dir is fine


def test_lax_mode_reasserted_on_reuse(tmp_path, override_env):
    target = tmp_path / "idx"
    target.mkdir(mode=0o777)
    os.chmod(target, 0o777)  # mkdir mode is umask-filtered; force lax
    override_env(str(target))
    index_cache_dir()
    assert (os.stat(target).st_mode & 0o777) == 0o700


def test_planted_symlink_refused(tmp_path, override_env):
    real = tmp_path / "elsewhere"
    real.mkdir()
    link = tmp_path / "idx"
    link.symlink_to(real)
    override_env(str(link))
    with pytest.raises(RuntimeError, match="not a directory"):
        index_cache_dir()


def test_foreign_owner_refused(tmp_path, override_env, monkeypatch):
    target = tmp_path / "idx"
    target.mkdir(mode=0o700)
    override_env(str(target))
    # Simulate another user owning the pre-created dir: lstat is real, so
    # fake OUR uid instead of chown (which needs root).
    real_getuid = os.getuid
    monkeypatch.setattr(os, "getuid", lambda: real_getuid() + 1)
    with pytest.raises(RuntimeError, match="owned by uid"):
        index_cache_dir()


def test_cached_artifact_builds_only_when_absent_torn_or_stale(tmp_path, override_env):
    """A fresh artifact is loaded without a build; a touched fixture, a
    garbage payload or new params each build once; publishing leaves no
    temp, build or swap-aside entry behind. Params with ``file`` give a
    file artifact (``atomic_write``), the others a directory with a
    sidecar (``swap_dir``)."""
    cache, sf = tmp_path / "idx", tmp_path / "sf0.001"
    override_env(str(cache))
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"v1")
    builds = []

    def build(tmp, meta):
        builds.append(tmp)
        if meta["params"].get("file"):
            return json.dumps(meta)
        os.makedirs(tmp)
        atomic_write(os.path.join(tmp, "_meta.json"), json.dumps(meta))

    def load(path, meta):
        with open(os.path.join(path, "_meta.json") if os.path.isdir(path) else path) as f:
            if json.load(f) != meta:
                raise ValueError("stale")
        return path

    def get(kind="stub", **params):
        return cached_artifact(kind, str(sf), "t", params, build, load)

    path = get(k=1)
    assert len(builds) == 1 and os.path.basename(path).startswith("stub_sf0.001_")
    assert get(k=1) == path and len(builds) == 1  # fresh: never builds
    os.utime(sf / "t.parquet", ns=(1, 1))  # regenerated fixture: new mtime
    assert get(k=1) == path and get(k=1) == path and len(builds) == 2
    for artifact in (os.path.join(path, "_meta.json"), get("stubf", file=1)):
        with open(artifact, "w") as f:
            f.write("{garbage")  # torn payload
    assert get(k=1) == path and get("stubf", file=1) and len(builds) == 5

    left = [e for e in os.listdir(cache) if any(t in e for t in (".tmp-", ".build-", ".old-"))]
    assert left + [e for e in os.listdir(path) if ".tmp-" in e] == []
    assert get(k=2) != path and len(builds) == 6  # changed recipe: own path


def test_publish_reaps_superseded_params_of_the_same_fixture(tmp_path, override_env):
    """Publishing params B removes the artifact built from params A for
    the same kind and fixture dir, with its ``.append-<pid>`` copy; an
    artifact of another fixture dir with the same basename survives."""
    override_env(str(tmp_path / "idx"))
    sfs = [tmp_path / d / "sf0.001" for d in ("a", "b")]

    def get(sf, **params):
        return cached_artifact("stub", str(sf), "t", params, lambda t, m: "{}", lambda p, m: os.stat(p) and p)

    a, other = get(sfs[0], k=1), get(sfs[1], k=1)
    assert os.path.basename(a).startswith("stub_sf0.001_") and a != other
    atomic_write(f"{a}.append-1", "copy")
    b = get(sfs[0], k=2)
    assert sorted(os.listdir(tmp_path / "idx")) == sorted(os.path.basename(p) for p in (b, other))
