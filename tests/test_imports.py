"""Every ``buzzard_spark`` import in the repo resolves.

The engine imports lazily inside functions (``raster_ops._tile_fp``
imports ``kernels.footprint`` inside the call), so an import of a module or
name that no longer exists would fail only when that code path runs. This
reads every ``.py`` under ``buzzard_spark/``, ``tests/`` and
``perfbench/`` with ``ast`` (nothing is executed) and checks each
``import buzzard_spark…`` and ``from buzzard_spark… import name`` at any
depth: the module imports, and each name is an attribute or a submodule
of it.
"""

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ('buzzard_spark', 'tests', 'perfbench')


def _engine_imports():
    """(where, module, name) for every engine import; name is None for a
    plain ``import`` statement."""
    out = []
    for top in SCANNED:
        for path in sorted((ROOT / top).rglob('*.py')):
            rel = path.relative_to(ROOT)
            tree = ast.parse(path.read_text(encoding='utf-8'), str(rel))
            for node in ast.walk(tree):
                where = f'{rel}:{getattr(node, "lineno", 0)}'
                if isinstance(node, ast.Import):
                    out += [(where, a.name, None) for a in node.names
                            if a.name.split('.')[0] == 'buzzard_spark']
                elif isinstance(node, ast.ImportFrom):
                    module = node.module or ''
                    if node.level:
                        pkg = rel.parent.parts[:len(rel.parent.parts)
                                               - (node.level - 1)]
                        module = '.'.join(pkg + ((module,) if module
                                                 else ()))
                    if module.split('.')[0] == 'buzzard_spark':
                        out += [(where, module, a.name) for a in node.names]
    return out


def _resolve(module, name):
    mod = importlib.import_module(module)
    if name is None or name == '*' or hasattr(mod, name):
        return
    importlib.import_module(f'{module}.{name}')


def test_every_engine_import_resolves():
    found = _engine_imports()
    # the scan reaches imports nested inside function bodies
    assert any(w.startswith('buzzard_spark/operators/raster_ops.py')
               and (m, n) == ('buzzard_spark.kernels.footprint',
                              'Footprint')
               for w, m, n in found)
    broken = []
    for where, module, name in found:
        try:
            _resolve(module, name)
        except ImportError as exc:
            broken.append(f'{where}: {module} {name or ""} ({exc})')
    assert not broken, 'unresolvable imports:\n' + '\n'.join(broken)
