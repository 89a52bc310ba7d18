"""Analysis packaging: install/verify/load/registry + variant overlays.

Reference semantics reimplemented (NOT ported code):

* an analysis is a directory with a required-file manifest
  (reference src/cosmap/analysis/files.json → manage.py:60-92);
* install = verify + record name→path in a JSON registry; no code
  validation at install time (reference manage.py:25-46: "It does NOT
  check that an analysis can actually run");
* a variant ("amod", reference manage.py:206-362) overlays a base
  analysis: transformation-block entries OVERWRITE whole nodes;
  parameter dicts deep-merge right-biased.
"""

from __future__ import annotations

import importlib.util
import json
import os
from pathlib import Path
from typing import Any

from cosmap_spark.pipeline.errors import CosmapSparkError

#: files an analysis directory must provide (reference files.json)
REQUIRED_FILES = ("transformations.json", "parameters.json", "transformations.py")

def _default_registry(env: str = "COSMAP_SPARK_REGISTRY",
                      name: str = "known_analyses.json") -> Path:
    """Resolve a registry path AT CALL TIME: a module-import-time read
    of the env var would freeze into every default argument, so a test
    (or wrapper) setting it after import would silently write to the
    user's real ~/.cosmap_spark registry.  The dataset registry
    (sources/datasets.py) resolves its own env var and file here too."""
    return Path(os.environ.get(env, str(Path.home() / ".cosmap_spark" / name)))


def _read_registry(path: Path | None = None) -> dict:
    path = path or _default_registry()
    if path.exists():
        return json.loads(path.read_text())
    return {}


def _write_registry(reg: dict, path: Path | None = None) -> None:
    path = path or _default_registry()
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(reg, indent=2, sort_keys=True))


def verify_analysis_directory(directory: Path) -> None:
    """Manifest check (reference manage.py:60-92)."""
    missing = [f for f in REQUIRED_FILES if not (directory / f).exists()]
    if missing:
        raise CosmapSparkError(
            f"analysis directory {directory} is missing required files: {missing}"
        )


def analysis_name(directory: Path) -> str:
    """Name = parameters.json "name", else the folder name (reference
    manage.py:38-42 fallback order)."""
    params = json.loads((directory / "parameters.json").read_text())
    return params.get("name", directory.name)


def install_analysis(directory: str | Path, *, registry: Path | None = None) -> str:
    directory = Path(directory).resolve()
    verify_analysis_directory(directory)
    name = analysis_name(directory)
    reg = _read_registry(registry)
    if name in reg:
        raise CosmapSparkError(f"analysis {name!r} is already installed")
    reg[name] = str(directory)
    _write_registry(reg, registry)
    return name


def uninstall_analysis(name: str, *, registry: Path | None = None) -> None:
    reg = _read_registry(registry)
    if name not in reg:
        raise CosmapSparkError(f"analysis {name!r} is not installed")
    del reg[name]
    _write_registry(reg, registry)


def list_analyses(*, registry: Path | None = None) -> dict[str, str]:
    return _read_registry(registry)


def locate_analysis(name: str, *, registry: Path | None = None) -> Path:
    reg = _read_registry(registry)
    if name not in reg:
        raise CosmapSparkError(f"analysis {name!r} is not installed")
    return Path(reg[name])


def load_analysis_files(directory: str | Path) -> dict[str, Any]:
    """Load a verified analysis dir: JSON specs as dicts, *.py as a
    dynamic module (reference load_directory_files, manage.py:138-203)."""
    directory = Path(directory)
    verify_analysis_directory(directory)
    out: dict[str, Any] = {
        "transformations": json.loads((directory / "transformations.json").read_text()),
        "parameters": json.loads((directory / "parameters.json").read_text()),
    }
    spec = importlib.util.spec_from_file_location(
        f"cosmap_analysis_{directory.name}", directory / "transformations.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out["implementations"] = getattr(mod, "Main", mod)
    if (directory / "setup.json").exists():
        out["setup"] = json.loads((directory / "setup.json").read_text())
    # optional external plugins shipped with the analysis (reference
    # plugins/manage.py:24-58 loads hook impls from external modules):
    # recorded here, registered by the runner (cli.run / tests)
    if (directory / "plugins.py").exists():
        out["plugins_file"] = str(directory / "plugins.py")
    return out


# --- variant overlay ("amod") --------------------------------------------


def combine_dicts(base: dict, overlay: dict) -> dict:
    """Right-biased deep merge (reference combine_dicts, manage.py:279-332)."""
    out = dict(base)
    for k, v in overlay.items():
        if k in out and isinstance(out[k], dict) and isinstance(v, dict):
            out[k] = combine_dicts(out[k], v)
        else:
            out[k] = v
    return out


def combine_transformations(base: dict, overlay: dict) -> dict:
    """Transformation nodes OVERWRITE whole (reference
    combine_transformations, manage.py:246-276): a variant's node spec
    replaces the base node entirely — no per-key merge inside a node."""
    out = dict(base)
    out.update(overlay)
    return out


def combine_with_mod(base: dict[str, Any], mod: dict[str, Any]) -> dict[str, Any]:
    """Overlay a loaded variant onto a loaded base analysis (reference
    combine_with_mod, manage.py:206-243).

    EVERY loaded section overlays: transformations (node-whole),
    parameters (deep merge), implementations (variant-first chain),
    setup (node-whole, like transformations — a variant's setup.json
    must actually take effect), and plugins_file (variant's plugins
    replace the base's — cli registers whichever survives here).
    Silently keeping the base's setup/plugins while claiming the
    variant was applied would run the WRONG pre-pass with no error."""
    out = dict(base)
    if "transformations" in mod:
        out["transformations"] = combine_transformations(
            base.get("transformations", {}), mod["transformations"]
        )
    if "parameters" in mod:
        out["parameters"] = combine_dicts(base.get("parameters", {}), mod["parameters"])
    if "implementations" in mod:
        out["implementations"] = _chain_impls(
            base.get("implementations"), mod["implementations"]
        )
    if "setup" in mod:
        out["setup"] = combine_transformations(
            base.get("setup", {}) or {}, mod["setup"] or {}
        )
    if mod.get("plugins_file"):
        out["plugins_file"] = mod["plugins_file"]
    return out


class _chain_impls:
    """Implementation lookup that prefers the variant, falls back to base."""

    def __init__(self, base: Any, overlay: Any) -> None:
        self._base, self._overlay = base, overlay

    def __getattr__(self, name: str) -> Any:
        fn = getattr(self._overlay, name, None)
        if fn is not None:
            return fn
        fn = getattr(self._base, name, None)
        if fn is None:
            raise AttributeError(name)
        return fn
