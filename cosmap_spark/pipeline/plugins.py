"""Plugin hook system (reference O31).

The reference exposes three pluggy hooks — ``generate_tasks``,
``initialize_sampler``, ``generate_samples`` — all firstresult and
unique, requested by name (reference src/cosmap/plugins/manage.py:24-58,
specs src/cosmap/analysis/plugins.py:8-45, registry
src/cosmap/plugins/plugins.json:1-11).  Here the same contract is a
lightweight registry (no pluggy dependency): one implementation per hook
name, firstresult semantics, defaults provided by the engine.  Only
hooks the engine calls are known: registering ``generate_tasks`` (no
task loop here — Spark schedules the work) raises.

Spark-relevant hooks:

* ``generate_samples(spark, sampling) -> DataFrame`` — replace the
  uniform sphere sampler (e.g. healpix-grid centers, an observed-fields
  table read from parquet).
* ``cone_strategy(catalog, samples, **kw) -> DataFrame`` — replace the
  spatial join (e.g. a survey with a prebuilt spatial index column).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from cosmap_spark.pipeline.errors import CosmapSparkError

#: hook name → single registered implementation (unique, like the
#: reference's ``unique=True`` hookspecs)
_HOOKS: dict[str, Callable] = {}

KNOWN_HOOKS = ("generate_samples", "cone_strategy")


def register(hook: str, fn: Callable | None = None, *, replace: bool = False):
    """Register an implementation (decorator or direct call)."""
    if hook not in KNOWN_HOOKS:
        raise CosmapSparkError(f"unknown hook {hook!r}; known: {KNOWN_HOOKS}")

    def _reg(f: Callable) -> Callable:
        if hook in _HOOKS and not replace:
            raise CosmapSparkError(f"hook {hook!r} already has an implementation")
        _HOOKS[hook] = f
        return f

    return _reg(fn) if fn is not None else _reg


def unregister(hook: str) -> None:
    _HOOKS.pop(hook, None)


def request(hook: str, default: Callable | None = None) -> Callable:
    """Fetch by name, falling back to the engine default (reference
    request-by-name, src/cosmap/plugins/manage.py:44-58)."""
    fn = _HOOKS.get(hook, default)
    if fn is None:
        raise CosmapSparkError(f"no implementation registered for hook {hook!r}")
    return fn


def call(hook: str, *args: Any, default: Callable | None = None, **kwargs: Any) -> Any:
    """Firstresult call: the single registered impl (or default) runs."""
    return request(hook, default)(*args, **kwargs)


# --- external plugin discovery --------------------------------------------
#
# The reference loads plugin implementations from OUTSIDE the package: a
# JSON registry names external modules whose attributes are imported and
# registered on demand (reference src/cosmap/plugins/manage.py:24-58 +
# src/cosmap/plugins/plugins.json).  Same contract here, for both module
# names and plain .py files (the analysis-directory case).


def _import_target(target: str):
    """``pkg.module`` or ``/path/to/file.py`` → a live module object."""
    import importlib
    import importlib.util
    from pathlib import Path

    if target.endswith(".py"):
        p = Path(target)
        if not p.exists():
            raise CosmapSparkError(f"plugin file {target!r} does not exist")
        spec = importlib.util.spec_from_file_location(
            f"cosmap_plugin_{p.stem}", p
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod
    try:
        return importlib.import_module(target)
    except ImportError as exc:
        raise CosmapSparkError(f"cannot import plugin module {target!r}: {exc}") from exc


def load_external(source: str, *, replace: bool = False) -> list[str]:
    """Register every attribute of ``source`` (module name or .py path)
    whose name matches a known hook.  Returns the hooks registered."""
    mod = _import_target(source)
    found = [h for h in KNOWN_HOOKS if callable(getattr(mod, h, None))]
    for h in found:
        register(h, getattr(mod, h), replace=replace)
    return found


def load_plugin_registry(path: str, *, replace: bool = False) -> list[str]:
    """Load a JSON plugin registry ``{hook: "module_or_file[:attr]"}``
    (the reference's plugins.json shape) and register each entry."""
    import json

    with open(path) as fh:
        spec = json.load(fh)
    loaded: list[str] = []
    for hook, target in spec.items():
        if hook not in KNOWN_HOOKS:
            raise CosmapSparkError(f"unknown hook {hook!r} in {path}")
        mod_name, _, attr = target.partition(":")
        mod = _import_target(mod_name)
        fn = getattr(mod, attr or hook, None)
        if not callable(fn):
            raise CosmapSparkError(
                f"plugin target {target!r} for hook {hook!r} is not callable"
            )
        register(hook, fn, replace=replace)
        loaded.append(hook)
    return loaded
