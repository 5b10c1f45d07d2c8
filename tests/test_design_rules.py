"""Structure guards: one implementation per operator, one home for
size-driven gates, one commit path, one commit protocol, and a
production caller for every public function."""

from __future__ import annotations


def test_no_twin_implementation_selectors():
    """One implementation per operator: no public or private function in
    the package takes an ``impl``/``*_impl`` parameter that selects a
    second code path, a ``fake`` parameter that swaps a stand-in in
    for the real one, or a ``primary``/``precise``/``backend`` parameter
    that selects an extraction engine."""
    import importlib
    import inspect
    import pkgutil

    import ocr_devnagari_spark as pkg
    offenders = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        for obj in vars(mod).values():
            if inspect.isclass(obj):
                fns = [v for v in vars(obj).values()
                       if inspect.isfunction(v)]
            else:
                fns = [obj] if inspect.isfunction(obj) else []
            for fn in fns:
                if fn.__module__ != mod.__name__:
                    continue            # re-exported from elsewhere
                offenders += [
                    f"{mod.__name__}.{fn.__qualname__}({p})"
                    for p in inspect.signature(fn).parameters
                    if p in ("impl", "fake", "primary", "precise",
                             "backend") or p.endswith("_impl")]
    assert not offenders, offenders


def test_gates_live_in_one_module():
    """Size-driven plan decisions have one home, ``gates.py``: no other
    package module checkpoints a DataFrame or runs a
    ``.limit(x + 1).count()`` gate.  The one exemption is the range
    join's wide-interval cap, which raises instead of choosing a plan."""
    import ast
    import pathlib

    import ocr_devnagari_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    exempt = {("operators/joins.py", "wide_limit")}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "gates.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            where = f"{rel}:{node.lineno}"
            if node.func.attr in ("localCheckpoint", "checkpoint"):
                offenders.append(f"{where} .{node.func.attr}(")
            inner = node.func.value
            if (node.func.attr == "count"
                    and isinstance(inner, ast.Call)
                    and isinstance(inner.func, ast.Attribute)
                    and inner.func.attr == "limit" and inner.args
                    and isinstance(inner.args[0], ast.BinOp)
                    and isinstance(inner.args[0].op, ast.Add)
                    and isinstance(inner.args[0].right, ast.Constant)
                    and inner.args[0].right.value == 1
                    and (rel, ast.unparse(inner.args[0].left))
                    not in exempt):
                offenders.append(f"{where} counted gate")
    assert not offenders, offenders


def test_one_commit_path():
    """Extracted rows reach storage through one path: only the icebox
    and the pipeline's ``extract_and_commit`` call ``commit_staged``,
    and no streaming module writes a DataFrame itself (its micro-batches
    commit through the pipeline)."""
    import ast
    import pathlib

    import ocr_devnagari_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    committers = {"sources/icebox.py", "plans/pipeline.py"}
    sinks = {"format", "parquet", "save", "toTable", "csv", "json", "orc",
             "text"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Attribute):
                continue
            where = f"{rel}:{node.lineno}"
            if node.attr == "commit_staged" and rel not in committers:
                offenders.append(f"{where} .commit_staged")
            if not rel.startswith("streaming/"):
                continue
            if node.attr == "write":
                offenders.append(f"{where} .write")
            if node.attr in sinks and "writeStream" in {
                    n.attr for n in ast.walk(node.value)
                    if isinstance(n, ast.Attribute)}:
                offenders.append(f"{where} .writeStream….{node.attr}")
    assert not offenders, offenders


def test_one_commit_protocol():
    """A table has one commit protocol, the icebox manifest plus the
    ``os.replace`` swap of its ``_current`` pointer: no other module
    names a pointer or marker-log file or renames files into place.
    ``session.py`` is exempt: ``package_zip`` swaps in a build artifact,
    not a table."""
    import ast
    import pathlib

    import ocr_devnagari_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "sources/icebox.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if (isinstance(node, ast.Constant)
                    and node.value in ("_current", "_commits")):
                offenders.append(f"{where} {node.value!r}")
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("replace", "rename")
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "os"
                    and rel != "session.py"):
                offenders.append(f"{where} os.{node.func.attr}")
    assert not offenders, offenders


def test_every_public_function_has_a_production_caller():
    """Every public package function and public method is referenced
    outside its own body by production code: the package,
    ``__spark_entry__.py``, ``submit_job.py``, ``bench*.py`` or
    ``perfbench/`` (its tests excluded).  A reference is a name, an
    attribute, an import or an identifier string (perfbench wraps
    functions by name).  The one exemption is the golden test oracle."""
    import ast
    import collections
    import pathlib

    import ocr_devnagari_spark as pkg

    allowed = {"goldenref.golden_extract_corpus"}
    root = pathlib.Path(pkg.__file__).parent
    repo = root.parent
    prod = [*root.rglob("*.py"), repo / "__spark_entry__.py",
            repo / "submit_job.py", *repo.glob("bench*.py"),
            *(p for p in (repo / "perfbench").rglob("*.py")
              if "tests" not in p.relative_to(repo).parts)]

    def refs(tree):
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                yield n.id
            elif isinstance(n, ast.Attribute):
                yield n.attr
            elif isinstance(n, ast.alias):
                yield n.name.rsplit(".", 1)[-1]
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and n.value.isidentifier()):
                yield n.value

    counts = collections.Counter()
    for path in prod:
        counts.update(refs(ast.parse(path.read_text())))
    offenders = []
    for path in sorted(root.rglob("*.py")):
        mod = path.relative_to(root).with_suffix("").as_posix()
        mod = mod.replace("/", ".")
        for node in ast.parse(path.read_text()).body:
            defs = [(node.name, node)] if isinstance(
                node, ast.FunctionDef) else []
            if isinstance(node, ast.ClassDef):
                defs = [(f"{node.name}.{f.name}", f) for f in node.body
                        if isinstance(f, ast.FunctionDef)]
            for qual, fn in defs:
                name = fn.name
                if name.startswith("_") or f"{mod}.{qual}" in allowed:
                    continue
                own = sum(1 for r in refs(fn) if r == name)
                if counts[name] - own == 0:
                    offenders.append(f"{mod}.{qual}")
    assert not offenders, offenders
