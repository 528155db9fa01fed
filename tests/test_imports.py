"""Static import integrity of the engine, checked from the source alone.

Most engine imports are lazy (inside query or operator functions), so a
module deletion or rename that leaves one of them dangling would only
fail at call time. These tests parse every file instead of importing it:

1. every ``spandex_spark`` import in the package, ``__spark_entry__.py``,
   ``bench.py`` and ``scripts/*.py`` -- at module level or inside a
   function -- names an existing module, and every imported name is a
   submodule or a top-level binding of that module;
2. every engine module is reachable by imports from the system's entry
   points (the driver entry, the benchmarks, the pipeline and the job
   scripts). Package ``__init__`` re-exports are followed only for the
   names actually imported, so an eager re-export cannot make a module
   look used. The exceptions are listed by name below.
"""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "spandex_spark"

ENTRY_POINTS = ["__spark_entry__.py", "bench.py", "spandex_spark/pipeline.py",
                "perfbench/*.py", "scripts/submit_job.py",
                "scripts/check_parity.py", "scripts/saturation_probe.py"]

# Modules kept although no entry point imports them, with the reason.
UNREACHED_BY_DESIGN = {
    "spandex_spark.sources.table_frame":
        "spandex's TableFrame (SURVEY.md O12), a public API with no "
        "driver query",
}

# Modules that only their own tests import: candidates for deletion
# together with those tests. Drop a name here when its module is deleted
# or an entry point starts to use it; a module that falls out of the
# entry points' reach must be added here explicitly.
TEST_ONLY = {f"spandex_spark.{m}" for m in """
    functions.geohash
    operators.adaptive operators.affine operators.align operators.bitext
    operators.bloom operators.bounds operators.bpe operators.contour
    operators.costdist operators.dsir operators.genpoints operators.geomdist
    operators.hexbin operators.hotspots operators.hydrology
    operators.interpolate operators.knlm operators.kriging
    operators.linkgraph operators.mapmatch operators.network
    operators.polygonize operators.quality_model operators.rasterize
    operators.regions operators.robots operators.search operators.snap
    operators.spatialstats operators.split operators.subdivide
    operators.textnorm operators.tiles operators.toposimplify
    operators.trajectory operators.unigram operators.viewshed
    operators.voronoi
    sources.geopackage sources.gpx sources.kml sources.mvt sources.warc
    streaming.ingest streaming.sessions
""".split()}


def _module_name(path):
    rel = os.path.relpath(path, ROOT)[:-len(".py")].replace(os.sep, ".")
    return rel[:-len(".__init__")] if rel.endswith(".__init__") else rel


MODULES = {_module_name(p): p for p in glob.glob(
    os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)}
PACKAGES = {m for m, p in MODULES.items() if p.endswith("__init__.py")}


def _parse(path):
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _top_level_names(module):
    """Names bound by the module's top-level statements."""
    names = set()
    for node in _parse(MODULES[module]).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0]
                         for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t)
                             if isinstance(n, ast.Name))
    return names


def _source_module(importer, node):
    """Absolute module of an ``ImportFrom`` (relative imports resolved)."""
    if node.level == 0:
        return node.module
    parts = importer.split(".")
    if importer not in PACKAGES:
        parts = parts[:-1]
    parts = parts[:len(parts) - (node.level - 1)]
    return ".".join(parts + ([node.module] if node.module else []))


def _engine_imports(path):
    """(lineno, module, name-or-None) for every spandex_spark import."""
    importer = _module_name(path) if path.startswith(
        os.path.join(ROOT, PKG)) else "__main__"
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node.lineno, a.name, None
        elif isinstance(node, ast.ImportFrom):
            module = _source_module(importer, node)
            if module and module.split(".")[0] == PKG:
                for a in node.names:
                    yield node.lineno, module, a.name


def _reached_modules(module, name):
    """Modules that ``from module import name`` needs: the submodule of
    that name, the package re-export's source, or the module itself."""
    if name is None:
        return {module}
    if f"{module}.{name}" in MODULES:
        return {f"{module}.{name}"}
    if module not in PACKAGES:
        return {module}
    out = set()
    for _, src, imported in _engine_imports(MODULES[module]):
        if imported == name:
            out |= _reached_modules(src, imported)
    return out


def _checked_files():
    files = list(MODULES.values())
    files += [os.path.join(ROOT, f) for f in ("__spark_entry__.py",
                                              "bench.py")]
    files += glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    return files


def test_every_engine_import_resolves():
    dangling = []
    for path in _checked_files():
        for lineno, module, name in _engine_imports(path):
            where = f"{os.path.relpath(path, ROOT)}:{lineno}"
            if module not in MODULES:
                dangling.append(f"{where}: no module {module}")
            elif (name is not None
                    and f"{module}.{name}" not in MODULES
                    and name not in _top_level_names(module)):
                dangling.append(f"{where}: {module} has no name {name}")
    assert not dangling, "\n".join(dangling)


def test_every_module_is_reachable_from_an_entry_point():
    todo = []
    for pattern in ENTRY_POINTS:
        for path in glob.glob(os.path.join(ROOT, pattern)):
            for _, module, name in _engine_imports(path):
                todo.extend(_reached_modules(module, name))
    reached = set()
    while todo:
        module = todo.pop()
        if module in reached or module not in MODULES:
            continue
        reached.add(module)
        for _, src, name in _engine_imports(MODULES[module]):
            todo.extend(_reached_modules(src, name))
    unreached = set(MODULES) - PACKAGES - reached
    allowed = set(UNREACHED_BY_DESIGN) | TEST_ONLY
    assert unreached == allowed, sorted(unreached ^ allowed)
