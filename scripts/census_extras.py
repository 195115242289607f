"""Census of the extra-query registry: which extras does anything need?

Runs every registered query once (noop write) at ``sf_dir`` under a
stdlib profiler, records the package functions each one reaches, and
decides every extra against one fixed root set. The result goes to
``EXTRAS_CENSUS.json`` at the repository root.

An extra is kept when any of these holds:

  (a) ``SURVEY_COVERAGE`` names it;
  (b) it is in ``bench.HEADLINE`` or a file under ``perfbench/`` names it;
  (c) a file under ``tests/`` names it;
  (d) it reaches a library function that the root set K0 does not reach.

K0 is the official queries, the extras kept by (a)-(c), and the
library functions that ``bench.py`` and ``perfbench/`` call directly.
"Library" is the package outside its ``queries*.py`` registry modules.
Every extra is decided against K0 once, so the result does not depend
on the order extras are deleted in.

Reach is the trace (``sys.setprofile`` on the driver thread plus
``threading.setprofile`` for py4j callback threads, which run
streaming ``foreachBatch`` bodies) united with a static closure: a
package function named inside a reached function counts as reached.
The closure catches UDF, ``mapInPandas`` and UDTF bodies, which run
in Python worker processes the profiler does not see.

Entries of extras already deleted are carried over from the existing
file, so a re-run keeps the ledger.

Usage: python scripts/census_extras.py [sf_dir]

``sf_dir`` defaults to the sf0.001 fixture (``bench.WARMUP_DIR``).
"""

from __future__ import annotations

import ast
import dis
import importlib
import importlib.util
import inspect
import json
import re
import sys
import threading
import time
import types
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "strava_etl_public_spark"
PKG_DIR = ROOT / PKG
OUT = ROOT / "EXTRAS_CENSUS.json"

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _words(paths) -> set[str]:
    out: set[str] = set()
    for p in paths:
        out |= set(_WORD.findall(p.read_text(errors="replace")))
    return out


def static_reasons(extras) -> dict[str, list[str]]:
    """Keep reasons (a)-(c) of each extra, recomputed from source."""
    sys.path.insert(0, str(ROOT))
    import bench
    from strava_etl_public_spark.queries_order import SURVEY_COVERAGE

    survey = {n for names in SURVEY_COVERAGE.values() for n in names}
    perf = set(bench.HEADLINE) | _words(
        p for p in (ROOT / "perfbench").rglob("*") if p.is_file() and "_work" not in p.parts
    )
    tests = _words((ROOT / "tests").rglob("*.py"))
    return {
        n: [r for r, hit in (("a", survey), ("b", perf), ("c", tests)) if n in hit]
        for n in extras
    }


# -- reach -------------------------------------------------------------------


def _in_pkg(code: types.CodeType) -> bool:
    return code.co_filename.startswith(str(PKG_DIR)) and code.co_name != "<module>"


def _fid(code: types.CodeType) -> str:
    rel = Path(code.co_filename).relative_to(ROOT).with_suffix("")
    return f"{'.'.join(rel.parts)}:{code.co_qualname}"


def _is_library(fid: str) -> bool:
    # nested lambdas, comprehensions and inner functions are reached
    # with the function that defines them, so they are not listed
    module, qualname = fid.split(":")
    return not module.split(".")[-1].startswith("queries") and "<locals>" not in qualname


class Closure:
    """Static closure over the package's code objects, read from
    bytecode.

    A reached code object reaches its nested code objects (lambdas,
    inner functions, UDF bodies) and every package function it names:
    a global (``_helper``), an attribute chain off a global, a local
    import or ``self``/``cls`` (``dedup.minhash``,
    ``ManagedTable.create``, ``self._commit``), or a function held in
    a module-level dict, list or tuple (not a query registry). Naming a
    class reaches its dunder methods; a class driven by a framework (a
    non-``object`` base from outside the package, or a UDTF ``eval``)
    reaches all of its methods. A method called on an instance held in
    a variable is not resolved: the trace sees those on the driver."""

    def __init__(self) -> None:
        self.file_globals = {
            getattr(mod, "__file__", ""): vars(mod)
            for name, mod in list(sys.modules.items())
            if name == PKG or name.startswith(PKG + ".")
        }

    def _home(self, code: types.CodeType) -> tuple[dict, type | None]:
        """Module globals of ``code`` and the class it is a method of."""
        glb = self.file_globals.get(code.co_filename, {})
        owner = glb.get(code.co_qualname.split(".")[0])
        return glb, owner if inspect.isclass(owner) else None

    @staticmethod
    def _codes(v) -> list[types.CodeType]:
        """Code objects behind a function-like value: plain functions,
        static/class methods, properties, functools wrappers and
        pyspark UDF wrappers (``.func``)."""
        out = []
        for _ in range(8):
            if isinstance(v, (staticmethod, classmethod)):
                v = v.__func__
            elif isinstance(v, property):
                return out + [f.__code__ for f in (v.fget, v.fset) if f is not None]
            elif inspect.isfunction(v):
                out.append(v.__code__)
                v = getattr(v, "__wrapped__", None) or getattr(v, "func", None)
            elif hasattr(v, "__wrapped__"):
                v = v.__wrapped__
            elif hasattr(v, "func") and not inspect.isclass(v.func):
                v = v.func
            else:
                break
        return out

    def _named(self, v) -> list[types.CodeType]:
        """What naming ``v`` reaches."""
        if inspect.isclass(v) or inspect.isclass(getattr(v, "func", None)):
            cls = v if inspect.isclass(v) else v.func  # pyspark UDTF wrapper
            if not cls.__module__.startswith(PKG):
                return []
            framework = "eval" in vars(cls) or any(
                b is not object and not b.__module__.startswith(PKG)
                for b in cls.__mro__[1:]
            )
            return [
                c
                for k in cls.__mro__
                if k.__module__.startswith(PKG)
                for n, m in vars(k).items()
                if framework or (n.startswith("__") and n.endswith("__"))
                for c in self._codes(m)
            ]
        if isinstance(v, (dict, list, tuple)):
            # a dispatch table of library functions; the query registries
            # (name -> query function) reach nothing by being named
            vals = v.values() if isinstance(v, dict) else v
            return [
                c
                for x in vals
                if inspect.isfunction(x) and _is_library(f"{x.__module__}:{x.__qualname__}")
                for c in self._codes(x)
            ]
        return self._codes(v)

    @staticmethod
    def _attr(obj, name):
        """``obj.name`` for a package module or class, else None."""
        if inspect.isclass(obj):
            for k in obj.__mro__:
                if name in vars(k):
                    return vars(k)[name]
            return None
        if inspect.ismodule(obj):
            return vars(obj).get(name)
        return None

    def _refs(self, code, glb: dict, owner: type | None) -> list[types.CodeType]:
        """Code objects ``code`` names (see the class docstring)."""
        ins = list(dis.get_instructions(code))
        local: dict = {}
        out: list[types.CodeType] = []
        for i, op in enumerate(ins):
            obj = None
            if op.opname == "IMPORT_NAME":
                level = ins[i - 2].argval if ins[i - 2].opname == "LOAD_CONST" else 0
                try:
                    name = importlib.util.resolve_name(
                        "." * level + op.argval, glb.get("__package__") or ""
                    )
                    mod = importlib.import_module(name)
                except (ImportError, ValueError):
                    continue
                j = i + 1
                while j + 1 < len(ins) and ins[j].opname == "IMPORT_FROM":
                    sub = vars(mod).get(ins[j].argval)
                    if sub is None:
                        try:
                            sub = importlib.import_module(f"{name}.{ins[j].argval}")
                        except ImportError:
                            sub = None
                    local[ins[j + 1].argval] = sub
                    out += self._named(sub)
                    j += 2
                if j < len(ins) and ins[j].opname.startswith("STORE_"):
                    local[ins[j].argval] = mod
                continue
            if op.opname == "LOAD_GLOBAL":
                obj = glb.get(op.argval)
            elif op.opname in ("LOAD_FAST", "LOAD_DEREF", "LOAD_CLOSURE"):
                obj = owner if op.argval in ("self", "cls") else local.get(op.argval)
            if obj is None:
                continue
            j = i + 1
            while j < len(ins) and ins[j].opname in ("LOAD_ATTR", "LOAD_METHOD"):
                nxt = self._attr(obj, ins[j].argval)
                if nxt is None:
                    break
                obj, j = nxt, j + 1
            out += self._named(obj)
        return out

    def close(self, codes) -> set[types.CodeType]:
        todo = [c for c in codes if _in_pkg(c)]
        done: set[types.CodeType] = set()
        while todo:
            code = todo.pop()
            if code in done:
                continue
            done.add(code)
            todo += [c for c in code.co_consts if isinstance(c, types.CodeType)]
            todo += [c for c in self._refs(code, *self._home(code)) if _in_pkg(c)]
        return done


def direct_calls(closure: Closure) -> set[types.CodeType]:
    """Package functions that ``bench.py`` and ``perfbench/`` call
    directly: the functions they import, and the members of the
    package modules and classes they import that the same file names
    as an attribute (``resample.densify_interpolate_fused``, and
    ``table.append`` on a ``ManagedTable``)."""
    files = [ROOT / "bench.py", *sorted((ROOT / "perfbench").glob("*.py"))]
    out: list[types.CodeType] = []
    for f in files:
        tree = ast.parse(f.read_text())
        attrs = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
        imported = []
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
                mod = importlib.import_module(node.module)
                for a in node.names:
                    v = vars(mod).get(a.name)
                    if v is None:
                        v = importlib.import_module(f"{node.module}.{a.name}")
                    imported.append(v)
            elif isinstance(node, ast.Import):
                imported += [
                    importlib.import_module(a.name)
                    for a in node.names
                    if a.name.startswith(PKG)
                ]
        for v in imported:
            out += closure._named(v)
            for n in attrs:
                out += closure._named(closure._attr(v, n))
    return closure.close(out)


# -- run ---------------------------------------------------------------------


class Reach:
    """Profile hook: records the code objects called into ``current``,
    which :func:`trace_all` swaps for a fresh set per query."""

    def __init__(self) -> None:
        self.current: set[types.CodeType] = set()

    def __call__(self, frame, event, arg) -> None:
        if event == "call":
            self.current.add(frame.f_code)


def trace_all(spark, sf_dir: str, qs: dict, hook: Reach) -> tuple[dict, dict]:
    """{name: package code objects reached on the driver}, {name: error}.
    ``threading.setprofile(hook)`` must already be set, before the
    first py4j callback thread starts."""
    reach: dict[str, set] = {}
    errors: dict[str, str] = {}
    for name, fn in qs.items():
        hook.current = set()
        t0 = time.perf_counter()
        sys.setprofile(hook)
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — record it, keep censusing
            errors[name] = f"{type(e).__name__}: {e}"[:300]
        finally:
            sys.setprofile(None)
            spark.catalog.clearCache()
        reach[name] = {c for c in hook.current if _in_pkg(c)} | {fn.__code__}
        status = "ERROR" if name in errors else "ok"
        print(f"{status:5} {name} {time.perf_counter() - t0:.2f}s", flush=True)
    return reach, errors


def decide(extras, static, reach, roots) -> dict:
    lib = {n: {_fid(c) for c in reach[n]} for n in extras}
    lib = {n: {f for f in fs if _is_library(f)} for n, fs in lib.items()}
    k0 = {_fid(c) for c in roots} | {
        f for n in extras if static[n] for f in lib[n]
    }
    out = {}
    for n in extras:
        only = sorted(lib[n] - k0)
        if static[n]:
            out[n] = {"reasons": static[n]}
        elif only:
            out[n] = {"reasons": ["d"], "only_reaches": only}
        else:
            out[n] = "deleted"
    return out


def main() -> int:
    sys.path.insert(0, str(ROOT))
    import bench

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else bench.WARMUP_DIR
    t_start = time.perf_counter()

    import __spark_entry__ as E
    from strava_etl_public_spark.queries import EXTRA_QUERIES
    from strava_etl_public_spark.session import get_spark

    official = dict(E.queries())
    extras = list(EXTRA_QUERIES)
    static = static_reasons(extras)

    hook = Reach()
    threading.setprofile(hook)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        reach, errors = trace_all(spark, sf_dir, official | dict(EXTRA_QUERIES), hook)
    finally:
        threading.setprofile(None)
        spark.stop()

    closure = Closure()
    reach = {n: closure.close(cs) for n, cs in reach.items()}
    roots = set(direct_calls(closure))
    for n in official:
        roots |= reach[n]
    decisions = decide(extras, static, reach, roots)

    # an extra no longer registered stays in the ledger as deleted
    old = json.loads(OUT.read_text())["extras"] if OUT.exists() else {}
    for n in old:
        if n not in decisions and n not in official:
            decisions[n] = "deleted"
    doc = {
        "fixture": Path(sf_dir).name,
        "wall_s": round(time.perf_counter() - t_start, 1),
        "registered": {"official": len(official), "extras": len(extras)},
        "kept": sum(v != "deleted" for v in decisions.values()),
        "deleted": sum(v == "deleted" for v in decisions.values()),
        "errors": errors,
        "extras": dict(sorted(decisions.items())),
    }
    OUT.write_text(json.dumps(doc, indent=1) + "\n")
    print(
        f"{doc['kept']} kept, {doc['deleted']} deleted, "
        f"{len(errors)} errors, {doc['wall_s']} s -> {OUT.name}"
    )
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
