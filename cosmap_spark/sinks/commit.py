"""Manifest-pointer commit protocol — the one commit path of every
versioned store in this package: the merge-on-read table
(:mod:`cosmap_spark.sinks.mor`) and the ANN, token-bag and lexical
indexes (:mod:`cosmap_spark.operators.index_store`).  This module is
the only one that knows their on-disk layout.

A directory rename (``writers.publish``, kept for the plain
directories any Spark reader must be able to read directly) is
atomic-enough on a local filesystem but the wrong
primitive for the stated 100 TB target, where stores live on an
object store and a directory "rename" is a non-atomic O(files) copy.
The public fix — Delta Lake's ``_delta_log`` and Iceberg's metadata
pointer, re-expressed minimally — is the manifest-pointer commit:

* data directories are IMMUTABLE and write-once (``data/<uuid>/``) —
  nothing ever renames or mutates them; an uncommitted dir is invisible
  because nothing references it;
* the store's state is ONE small versioned manifest file
  (``_manifests/v<N>.json``) naming the data dirs that make up the
  current view; readers resolve ``latest manifest → dirs``;
* commit = publishing manifest ``v<N+1>`` with PUT-if-absent semantics
  (every real object store has this: S3 conditional PUT, GCS
  ``ifGenerationMatch=0``, Azure ``If-None-Match:*``) — which makes the
  publish both ATOMIC (readers see the old or the new version, never a
  torn one) and a CAS (two concurrent committers race for the same
  version number; exactly one wins, the loser gets
  :class:`CommitConflict` and must re-read + retry).

Crash windows, by construction:

* die after writing data, before publish → an orphan data dir no
  manifest references; the store is unchanged; :meth:`ManifestStore.
  vacuum` sweeps it (age-guarded);
* die inside the publish → PUT-if-absent is all-or-nothing (locally:
  one ``os.link``), so either ``v<N+1>`` exists complete or not at all;
* concurrent publish → :class:`CommitConflict`, loud.

Filesystem access goes through the five-call :class:`CommitFS` seam.
:class:`LocalFS` is the shipped implementation (and the test vehicle);
an object-store deployment implements the same five calls against its
SDK and passes it in — the Spark-side reads/writes already take URIs
Spark's own Hadoop connectors handle.  The layout keeps every manifest
ever published (they are tiny), which gives version-pinned reads
(time travel) for free; :meth:`ManifestStore.expire_versions` prunes
history, after which vacuum reclaims newly-unreferenced data dirs.

The reference has no persisted-store machinery at all (read-only
catalogs, /root/reference/src/cosmap/dataset/__init__.py); this module
is the published Delta/Iceberg commit-protocol design, independently
re-implemented at miniature scale.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
_VERSION_RE = re.compile(r"^v(\d{9})\.json$")
_DATA_NAME_RE = re.compile(r"^[0-9a-f]{32}$")  # new_data_dir's uuid hex


class CommitConflict(RuntimeError):
    """Another writer published this manifest version first.  The
    caller must re-read the latest manifest and retry (or surface the
    conflict) — never overwrite."""


class LocalFS:
    """The five filesystem calls the manifest protocol needs, on the
    driver-local filesystem.  An object-store port implements this same
    interface: ``listdir`` = LIST by prefix, ``exists`` = HEAD,
    ``read_text`` = GET, ``makedirs`` = no-op (object stores have no
    directories), ``publish_exclusive`` = conditional PUT
    (If-None-Match / ifGenerationMatch=0).
    """

    def listdir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return os.listdir(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def publish_exclusive(self, path: str, content: str) -> None:
        """Atomic create-if-absent of one small file.  ``os.link`` is
        the local primitive with BOTH properties at once: it fails with
        EEXIST if the target exists (the CAS) and the target appears
        fully-formed or not at all (the atomicity) — a torn write can
        only ever live in the dot-prefixed staging file, which version
        listings structurally ignore."""
        d = os.path.dirname(path)
        tmp = os.path.join(
            d, f".{os.path.basename(path)}.{uuid.uuid4().hex}"
        )
        with open(tmp, "w") as f:
            f.write(content)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflict(
                f"manifest {path!r} already published by a concurrent "
                "writer — re-read the latest version and retry"
            )
        finally:
            os.unlink(tmp)

    def remove_tree(self, path: str) -> None:
        """Vacuum-only helper (not part of the read/commit path):
        delete one data directory / manifest file."""
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)

    def mtime(self, path: str) -> float:
        return os.stat(path).st_mtime


def _fs_for(path: str, fs: "LocalFS | None") -> LocalFS:
    """Backend dispatch: an explicit ``fs`` wins; otherwise local paths
    get :class:`LocalFS` and remote URIs refuse with the seam named —
    the replacement for the old blanket ``_require_local`` refusal
    (the Spark side of a manifest store already speaks URIs; only
    these five calls need the port)."""
    if fs is not None:
        return fs
    from urllib.parse import urlparse

    scheme = urlparse(path).scheme
    if scheme and scheme != "file" and len(scheme) > 1:
        raise ValueError(
            f"no CommitFS implementation for {scheme}:// — pass "
            "fs=<your CommitFS> (five calls: listdir/exists/read_text/"
            "makedirs/publish_exclusive; see sinks/commit.py LocalFS)"
        )
    return LocalFS()


class ManifestStore:
    """One store committed through the manifest-pointer protocol.

    The manifest content is the caller's dict (keys, schema, data-dir
    names…); this class owns only versioning, the CAS publish, orphan
    vacuuming and history expiry.  Data-dir NAMES in manifests are
    store-relative (``data/<uuid>``) so a store can be moved/mirrored
    wholesale."""

    def __init__(self, path: str, fs: LocalFS | None = None) -> None:
        self.path = path.rstrip("/")
        self.fs = _fs_for(path, fs)

    # -- resolution ----------------------------------------------------
    def _mdir(self) -> str:
        return os.path.join(self.path, MANIFEST_DIR)

    def versions(self) -> list[int]:
        """Published versions, ascending.  Dot-prefixed staging files
        and foreign names are structurally excluded."""
        out = []
        for name in self.fs.listdir(self._mdir()):
            m = _VERSION_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def exists(self) -> bool:
        return bool(self.versions())

    def foreign_entries(self) -> list[str]:
        """Store-relative names under the path that this protocol never
        writes: anything besides ``data/<uuid>`` dirs, published
        manifests and dot-prefixed publish staging.  Empty for a real
        store, an absent path, or the prefix a died initializer left
        (orphan data, staging debris).  A caller about to act on a
        path with no published manifest checks this first, so a
        mistyped path — a plain parquet table, a leftover
        rename-layout store, a project dir with its own ``data/`` —
        is refused instead of overlaid or swept."""
        out = [n for n in self.fs.listdir(self.path)
               if n not in (DATA_DIR, MANIFEST_DIR)]
        out += [f"{DATA_DIR}/{n}"
                for n in self.fs.listdir(os.path.join(self.path, DATA_DIR))
                if not _DATA_NAME_RE.match(n)]
        out += [f"{MANIFEST_DIR}/{n}"
                for n in self.fs.listdir(self._mdir())
                if not (n.startswith(".") or _VERSION_RE.match(n))]
        return sorted(out)

    def read_version(self, version: int) -> dict:
        return json.loads(
            self.fs.read_text(
                os.path.join(self._mdir(), f"v{version:09d}.json")
            )
        )

    def latest(self) -> tuple[int, dict]:
        vs = self.versions()
        if not vs:
            raise ValueError(
                f"{self.path!r} has no published manifest — not a "
                "manifest store (or never initialized)"
            )
        return vs[-1], self.read_version(vs[-1])

    # -- writing -------------------------------------------------------
    def new_data_dir(self) -> tuple[str, str]:
        """A fresh immutable data-dir target: (relative name for the
        manifest, absolute/URI path for the Spark write).  Nothing
        references it until a manifest does, so a died writer leaks
        only vacuumable garbage."""
        rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
        return rel, os.path.join(self.path, rel)

    def data_path(self, rel: str) -> str:
        return os.path.join(self.path, rel)

    def publish(self, manifest: dict, *, expected_version: int) -> int:
        """CAS-publish ``manifest`` as version ``expected_version + 1``
        (0 for a fresh store).  Raises :class:`CommitConflict` if any
        other writer got there first; the caller re-reads and retries.
        Returns the published version number."""
        new_v = int(expected_version) + 1
        self.fs.makedirs(self._mdir())
        body = dict(manifest)
        body["version"] = new_v
        self.fs.publish_exclusive(
            os.path.join(self._mdir(), f"v{new_v:09d}.json"),
            json.dumps(body),
        )
        return new_v

    # -- maintenance ---------------------------------------------------
    def _referenced(self) -> set[str]:
        refs: set[str] = set()
        for v in self.versions():
            m = self.read_version(v)
            for rel in m.get("data_dirs", []):
                refs.add(rel)
        return refs

    def vacuum(self, *, min_age_seconds: float = 3600.0,
               dry_run: bool = False) -> list[str]:
        """Remove data dirs no RETAINED manifest references (orphans
        from died writers, plus dirs released by
        :meth:`expire_versions`).  Age-guarded: a younger dir may be
        a live writer's staged-but-unpublished commit.  Manifests
        themselves are never touched here.  ``dry_run=True`` reports
        without removing."""
        refs = self._referenced()
        removed = []
        now = time.time()
        ddir = os.path.join(self.path, DATA_DIR)
        for name in self.fs.listdir(ddir):
            rel = f"{DATA_DIR}/{name}"
            full = os.path.join(self.path, rel)
            if rel in refs:
                continue
            if now - self.fs.mtime(full) < min_age_seconds:
                continue
            if not dry_run:
                self.fs.remove_tree(full)
            removed.append(full)
        # publish staging debris: a publish that died INSIDE the write
        # (before the link/PUT) leaks its dot-prefixed staging file in
        # _manifests — invisible to version listings, but it would
        # accumulate forever (round-10 self-review); same age guard
        mdir = self._mdir()
        for name in self.fs.listdir(mdir):
            if not name.startswith("."):
                continue
            full = os.path.join(mdir, name)
            if now - self.fs.mtime(full) < min_age_seconds:
                continue
            if not dry_run:
                self.fs.remove_tree(full)
            removed.append(full)
        return removed

    def expire_versions(self, *, keep_last: int = 10) -> list[int]:
        """Drop manifest history older than the last ``keep_last``
        versions (the latest is always kept).  Data dirs those versions
        referenced become vacuum-eligible once unreferenced by every
        survivor.  Expiry deletes OLDEST-FIRST so a crash mid-expiry
        leaves a contiguous recent history."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1; got {keep_last}")
        vs = self.versions()
        drop = vs[:-keep_last]
        for v in drop:
            self.fs.remove_tree(
                os.path.join(self._mdir(), f"v{v:09d}.json")
            )
        return drop
