"""CREATE SERVICE surface + model/service code generation.

The reference is "a micro service framework" as much as a database: its
CREATE SERVICE DDL (Parser.java:4252 parseCreateService; SqlScript.java:
166-191 canonical examples) declares a named service with typed methods,
an ``IMPLEMENT BY`` class, and ``GENERATE CODE`` emitting typed client
classes; CREATE TABLE likewise takes ``PACKAGE`` / ``GENERATE CODE``
trailing clauses emitting the ORM model class (SqlScript.java:52-68).

Spark-side translation:

- the service REGISTRY is catalog metadata (like indexes/triggers);
- ``IMPLEMENT BY`` names a *Python* class — invocation
  (``EXECUTE SERVICE svc method(args)`` or the generated client) imports
  it, instantiates once per session, and calls the method on the driver.
  Services are session-level RPC endpoints, not data-plane operators, so
  driver-side dispatch is the honest analogue of the reference's
  in-process service call; anything data-heavy inside a method uses the
  session's own distributed primitives.
- ``GENERATE CODE`` writes Python source: a typed ``orm.Model`` subclass
  per table, a client class per service — the reference's Java codegen
  surface re-expressed for Python callers.
"""

from __future__ import annotations

import importlib
import os
import re
from dataclasses import dataclass, field

from .dialect import _split_top_level


@dataclass
class ServiceMeta:
    name: str
    # method name → (list[(arg_name, arg_type)], return_type)
    methods: dict[str, tuple[list[tuple[str, str]], str]] = field(
        default_factory=dict
    )
    package: str = ""
    implement_by: str = ""
    code_path: str = ""
    ddl: str = ""


def parse_methods(body: str) -> dict[str, tuple[list[tuple[str, str]], str]]:
    """``add(user varchar) long, say_hello() void`` → method dict."""
    out: dict[str, tuple[list[tuple[str, str]], str]] = {}
    for p in _split_top_level(body):
        m = re.match(
            r"\s*(?P<name>\w+)\s*\((?P<args>[^)]*)\)\s*(?P<ret>.*?)\s*$", p
        )
        if not m:
            raise ValueError(f"cannot parse service method: {p!r}")
        args: list[tuple[str, str]] = []
        for a in m.group("args").split(","):
            a = a.strip()
            if not a:
                continue
            bits = a.split(None, 1)
            args.append((bits[0], bits[1] if len(bits) > 1 else "varchar"))
        out[m.group("name").lower()] = (args, m.group("ret") or "void")
    return out


def resolve_impl(path: str):
    """Import ``pkg.mod.ClassName`` (or ``pkg.mod:attr``) and return the
    attribute; raises ImportError with the reference-style message."""
    if ":" in path:
        mod_name, attr = path.split(":", 1)
    else:
        mod_name, _, attr = path.rpartition(".")
    if not mod_name:
        raise ImportError(f"service implementation not importable: {path!r}")
    mod = importlib.import_module(mod_name)
    return getattr(mod, attr)


class ServiceDispatcher:
    """Per-session service invoker with cached implementation instances."""

    def __init__(self) -> None:
        self._instances: dict[str, object] = {}

    def call(self, meta: ServiceMeta, method: str, args: list):
        method = method.lower()
        if method not in meta.methods:
            raise ValueError(
                f"service {meta.name} has no method {method}; "
                f"declared: {sorted(meta.methods)}"
            )
        if not meta.implement_by:
            raise NotImplementedError(
                f"service {meta.name} declared without IMPLEMENT BY — "
                "metadata-only registration"
            )
        inst = self._instances.get(meta.name)
        if inst is None:
            cls = resolve_impl(meta.implement_by)
            inst = cls() if isinstance(cls, type) else cls
            self._instances[meta.name] = inst
        return getattr(inst, method)(*args)


# ---------------------------------------------------------------------------
# GENERATE CODE — Python source emission
# ---------------------------------------------------------------------------
def _class_name(name: str) -> str:
    return "".join(w.capitalize() for w in name.split("_"))


def _pkg_dir(code_path: str, package: str) -> str:
    d = os.path.join(code_path, *package.split(".")) if package else code_path
    os.makedirs(d, exist_ok=True)
    return d


def generate_model_code(
    name: str, columns: list[tuple[str, str]], package: str, code_path: str
) -> str:
    """Emit a typed ``orm.Model`` subclass for ``name`` (the Python twin
    of the reference's generated model classes). Returns the file path."""
    cls = _class_name(name)
    cols = ", ".join(repr(c) for c, _ in columns)
    lines = [
        f'"""Generated model for table {name} — GENERATE CODE output."""',
        "",
        "from etl_lealone_spark.orm import Model",
        "",
        "",
        f"class {cls}(Model):",
        f"    TABLE = {name!r}",
        f"    COLUMNS = ({cols}{',' if columns else ''})",
        "",
        "    def __init__(self, session):",
        f"        super().__init__(session, {name!r})",
        "",
        "    @classmethod",
        "    def dao(cls, session):",
        "        return cls(session)",
        "",
    ]
    path = os.path.join(_pkg_dir(code_path, package), f"{name}_model.py")
    with open(path, "w") as f:
        f.write("\n".join(lines))
    return path


def generate_service_code(meta: ServiceMeta) -> str:
    """Emit a typed client class for a service: each declared method
    forwards through ``EngineSession.call_service``. Returns the path."""
    cls = _class_name(meta.name)
    lines = [
        f'"""Generated client for service {meta.name} — GENERATE CODE output."""',
        "",
        "",
        f"class {cls}:",
        f"    SERVICE = {meta.name!r}",
        "",
        "    def __init__(self, session):",
        "        self._session = session",
        "",
    ]
    for mname, (args, _ret) in meta.methods.items():
        params = ", ".join(a for a, _ in args)
        sig = f"self, {params}" if params else "self"
        call_args = f", {params}" if params else ""
        lines += [
            f"    def {mname}({sig}):",
            f"        return self._session.call_service("
            f"{meta.name!r}, {mname!r}{call_args})",
            "",
        ]
    path = os.path.join(
        _pkg_dir(meta.code_path, meta.package), f"{meta.name}_service.py"
    )
    with open(path, "w") as f:
        f.write("\n".join(lines))
    return path
