"""Every optional parameter of the engine is set by some caller (no JVM).

An optional parameter that no call in the repository binds has one value
in use: it is a constant spelled as a setting, and any branch only it
selects never runs.  This scan walks every top-level function and method
of a top-level class in `arabic_ocr_spark`, and every call in the
repository's Python files.  A call binds a parameter when it passes it by
keyword, reaches its position with positional arguments, or forwards
`*args` / `**kwargs`.  Calls are matched by name only, so two functions
sharing a name share their call sites; the scan can miss an unbound
parameter that way, but never reports a bound one.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "arabic_ocr_spark"
SKIP_DIRS = {".git", "__pycache__", ".pytest_cache", ".perfbench_work",
             "dist", "spark-warehouse", "metastore_db"}

# optional parameters kept although no call binds them, each with its reason
KEPT_UNBOUND = {
    ("arabic_ocr_spark/job.py", "run_extraction", "templates"):
        "the trainers will bind reference templates through it "
        "(training == inference path with artwork bound)",
    ("arabic_ocr_spark/operators/similarity.py", "neardup_bucket_audit",
     "max_bucket_size"):
        "an audit takes the same parameters as the operator it audits",
    ("arabic_ocr_spark/training.py", "build_model", "out_path"):
        "the documented model-regeneration command passes it",
}


def _py_files():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = sorted(d for d in dirnames if d not in SKIP_DIRS)
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def _optional_params(fn, is_method):
    """(name, positional index or None) for each parameter with a default;
    the index counts the arguments a caller writes (self/cls excluded)."""
    a = fn.args
    positional = a.posonlyargs + a.args
    skip = 1 if is_method and not any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list) else 0
    first_default = len(positional) - len(a.defaults)
    out = [(p.arg, i - skip) for i, p in enumerate(positional)
           if i >= first_default]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def optional_params():
    """{(relpath, function, parameter): positional index or None}."""
    found = {}
    for path in _py_files():
        rel = os.path.relpath(path, ROOT)
        if not rel.startswith(ENGINE + os.sep):
            continue
        tree = ast.parse(open(path, encoding="utf-8").read())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs = [(node.name, node, False)]
            elif isinstance(node, ast.ClassDef):
                defs = [(node.name if f.name == "__init__" else f.name, f, True)
                        for f in node.body
                        if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))]
            else:
                continue
            for name, fn, is_method in defs:
                for pname, idx in _optional_params(fn, is_method):
                    found[(rel, name, pname)] = idx
    return found


def call_sites():
    """{callee name: [(keyword names, n positional, forwards *args,
    forwards **kwargs)]} over every call in the repository."""
    calls = {}
    for path in _py_files():
        tree = ast.parse(open(path, encoding="utf-8").read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else (
                f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            calls.setdefault(name, []).append((
                {k.arg for k in node.keywords if k.arg is not None},
                sum(not isinstance(a, ast.Starred) for a in node.args),
                any(isinstance(a, ast.Starred) for a in node.args),
                any(k.arg is None for k in node.keywords),
            ))
    return calls


def unbound_params():
    calls = call_sites()
    unbound = []
    for (rel, name, pname), idx in sorted(optional_params().items()):
        bound = any(
            pname in kws or fwd_kw
            or (idx is not None and (npos > idx or fwd_pos))
            for kws, npos, fwd_pos, fwd_kw in calls.get(name, ()))
        if not bound:
            unbound.append((rel.replace(os.sep, "/"), name, pname))
    return unbound


def test_every_optional_parameter_has_a_binding_call():
    unbound = [u for u in unbound_params() if u not in KEPT_UNBOUND]
    assert not unbound, (
        "optional parameters no call binds (make each a module constant, "
        "or delete it with the branch it selects): "
        + ", ".join(f"{r}::{f}({p})" for r, f, p in unbound))


def test_kept_parameters_are_still_unbound_and_present():
    """A kept parameter that gains a caller, or disappears, leaves the set."""
    assert set(KEPT_UNBOUND) <= set(unbound_params())


if __name__ == "__main__":
    for r, f, p in unbound_params():
        print(f"{r}::{f}({p})" + ("  [kept]" if (r, f, p) in KEPT_UNBOUND else ""))
