"""The worker daemon's zip stamp rule (``buzzard_spark.pydaemon``): a
zipimporter re-reads its archive only when the archive changed on disk.
The wrapper is called directly; this process's own zipimport stays as
Python ships it (the daemon installs the wrapper only as ``__main__``)."""

import sys
import zipfile
import zipimport

import pytest

from buzzard_spark import pydaemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason='zipimporter.invalidate_caches is lazy on Python >= 3.12')


def _write_zip(path, modules):
    with zipfile.ZipFile(path, 'w') as z:
        for name, src in modules.items():
            z.writestr(f'{name}.py', src)


def test_stamp_rule(tmp_path):
    archive = str(tmp_path / 'mods.zip')
    _write_zip(archive, {'a': 'X = 1\n'})
    imp = zipimport.zipimporter(archive)
    assert imp.find_spec('a') is not None

    pydaemon.invalidate_caches(imp)             # first call: read + stamp
    files = imp._files
    pydaemon.invalidate_caches(imp)             # unchanged: no re-read
    assert imp._files is files

    # rewritten archive (a new size, so the stamp differs even within
    # one coarse mtime tick): re-read, the new module resolves
    _write_zip(archive, {'a': 'X = 1\n', 'b': 'Y = 2  # new module\n'})
    other = zipimport.zipimporter(archive)      # second importer, same zip
    pydaemon.invalidate_caches(imp)
    assert imp._files is not files
    assert imp.find_spec('b') is not None
    # an importer of the same archive picks up that re-read
    pydaemon.invalidate_caches(other)
    assert other._files is imp._files

    # an archive that can no longer be stat'ed is re-read (and found empty)
    (tmp_path / 'mods.zip').unlink()
    pydaemon.invalidate_caches(imp)
    assert imp._files == {}


def test_import_leaves_zipimport_unpatched():
    assert zipimport.zipimporter.invalidate_caches is pydaemon._reread
