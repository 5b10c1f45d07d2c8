"""Backend registry: dispatch, the M2-analog naive engine, purity of the
default path under backend selection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark.corpus import gen_page
from ocr_devnagari_spark.operators.extract import extract_fused
from ocr_devnagari_spark.operators.registry import (
    available_backends,
    get_backend,
    register_backend,
)
from ocr_devnagari_spark.plans.pipeline import read_pages


def test_builtin_backends_registered():
    assert {"fast", "precise", "naive"} <= set(available_backends())


def test_unknown_backend_raises():
    with pytest.raises(ValueError, match="unknown backend"):
        get_backend("nope")
    with pytest.raises(ValueError, match="already registered"):
        register_backend("fast", lambda s: s)


def test_naive_backend_keeps_boilerplate():
    """The M2 analog is deliberately lower quality: it strips tags but
    keeps nav/ad text — proving the registry carries a semantically
    different second engine."""
    row = gen_page(5)
    assert not row["is_pdf"]
    html = row["html"].decode()
    fast = get_backend("fast")(html)
    naive = get_backend("naive")(html)
    assert row["expected_text"].split("\n")[0] in naive
    assert len(naive) > len(fast)            # boilerplate retained
    assert "cookies" in naive.lower()        # cookie banner not stripped


def test_fused_with_named_backends(spark, corpus_dir):
    pages = read_pages(spark, corpus_dir).limit(60)
    default = {r.url: r.text for r in
               extract_fused(pages).select("url", "text").collect()}
    named = {r.url: r.text for r in
             extract_fused(pages, primary="fast", precise="precise")
             .select("url", "text").collect()}
    assert default == named                  # names resolve to the builtins

    naive = extract_fused(pages, primary="naive")
    rows = naive.collect()
    assert len(rows) == 60
    # naive output differs from default on html rows (boilerplate kept)
    diff = [r for r in rows
            if r.backend_used != "pdf" and r.text != default[r.url]]
    assert len(diff) > 0


def test_unknown_backend_fails_in_stage(spark, corpus_dir):
    pages = read_pages(spark, corpus_dir).limit(5)
    with pytest.raises(Exception) as ei:
        extract_fused(pages, primary="bogus").collect()
    assert "unknown backend" in str(ei.value)


def test_cost_metadata_surface():
    from ocr_devnagari_spark.operators.registry import (
        backend_cost_per_page,
        get_spec,
    )
    assert get_spec("fast").is_free and backend_cost_per_page("fast") == 0.0
    assert not get_spec("precise").is_free
    assert backend_cost_per_page("precise") == pytest.approx(0.002)


def test_lifecycle_hooks_run_per_task(spark, corpus_dir, tmp_path):
    """initialize()/cleanup() (base.py:49-132 contract) must run on the
    EXECUTOR side around the batch loop — observable here because local
    mode shares the filesystem."""
    import glob
    import os
    import uuid

    marker_dir = str(tmp_path / "hooks")
    os.makedirs(marker_dir)

    def _init():
        with open(os.path.join(marker_dir, f"init-{uuid.uuid4().hex}"), "w"):
            pass
        return True, "ok"

    def _cleanup():
        with open(os.path.join(marker_dir, f"done-{uuid.uuid4().hex}"), "w"):
            pass

    from ocr_devnagari_spark.operators.registry import BackendSpec
    # a runtime-registered NAME is invisible to worker processes (they
    # re-import the registry); a BackendSpec ships in the task closure
    hooked = BackendSpec(get_backend("fast"), initialize=_init,
                         cleanup=_cleanup)
    pages = read_pages(spark, corpus_dir).limit(40).repartition(3)
    n = extract_fused(pages, primary=hooked).count()
    assert n == 40
    inits = glob.glob(f"{marker_dir}/init-*")
    dones = glob.glob(f"{marker_dir}/done-*")
    assert len(inits) >= 1 and len(dones) == len(inits)


def test_failed_initialize_fails_task(spark, corpus_dir):
    from ocr_devnagari_spark.operators.registry import BackendSpec
    bad = BackendSpec(get_backend("fast"),
                      initialize=lambda: (False, "no model file"))
    pages = read_pages(spark, corpus_dir).limit(5)
    with pytest.raises(Exception) as ei:
        extract_fused(pages, primary=bad).collect()
    assert "initialize failed" in str(ei.value)


def test_failed_second_init_cleans_up_first(spark, corpus_dir, tmp_path):
    """If the precise backend's initialize() fails, the already-initialized
    primary must still be cleaned up (workers are reused across tasks)."""
    import glob
    import os
    import uuid

    marker_dir = str(tmp_path / "cleanup")
    os.makedirs(marker_dir)

    from ocr_devnagari_spark.operators.registry import BackendSpec

    def _init_a():
        with open(os.path.join(marker_dir, f"a-init-{uuid.uuid4().hex}"),
                  "w"):
            pass
        return True, "ok"

    def _cleanup_a():
        with open(os.path.join(marker_dir, f"a-done-{uuid.uuid4().hex}"),
                  "w"):
            pass

    a = BackendSpec(get_backend("fast"), initialize=_init_a,
                    cleanup=_cleanup_a)
    b = BackendSpec(get_backend("precise"),
                    initialize=lambda: (False, "model missing"))
    pages = read_pages(spark, corpus_dir).limit(10).coalesce(1)
    with pytest.raises(Exception):
        extract_fused(pages, primary=a, precise=b).collect()
    inits = glob.glob(f"{marker_dir}/a-init-*")
    dones = glob.glob(f"{marker_dir}/a-done-*")
    assert len(inits) >= 1 and len(dones) == len(inits)


def test_no_twin_implementation_selectors():
    """One implementation per operator: no public or private function in
    the package takes an ``impl``/``*_impl`` parameter that selects a
    second code path, or a ``fake`` parameter that swaps a stand-in in
    for the real one."""
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
                    if p in ("impl", "fake") or p.endswith("_impl")]
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
