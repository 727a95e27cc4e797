"""The stamped zipimport cache invalidation installed by ``session``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.session  # noqa: F401

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from 3.13 on"
)


def _write_archive(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zpkg/__init__.py", f"VALUE = {value!r}\n")
        zf.writestr("zpkg/sub/__init__.py", "from zpkg import VALUE\n")


def test_invalidate_caches_rereads_an_archive_only_when_its_stamp_changes(
    tmp_path, monkeypatch
):
    archive = str(tmp_path / "zpkg.zip")
    _write_archive(archive, "one")
    reads = []
    inner = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return inner(path)

    saved_path, saved_modules = list(sys.path), dict(sys.modules)
    sys.path.insert(0, archive)
    try:
        import zpkg.sub

        assert zpkg.sub.VALUE == "one"
        # the first call after install re-reads once and records the stamp
        importlib.invalidate_caches()
        monkeypatch.setattr(zipimport, "_read_directory", counted)

        importlib.invalidate_caches()
        assert reads == []

        _write_archive(archive, "two, and longer")
        importlib.invalidate_caches()
        assert archive in reads
        for name in ("zpkg", "zpkg.sub"):
            del sys.modules[name]
        import zpkg.sub  # noqa: F811

        assert zpkg.sub.VALUE == "two, and longer"

        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - set(saved_modules):
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
