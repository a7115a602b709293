"""One versioned-log core under both commit logs.

The txn-table manifest log (:mod:`txnlog`, ``<table>/_txn_log/``) and the
index generation-pointer log (:mod:`genlog`, ``<root>/_gen_log/``) are the
same Delta-style structure (SURVEY §2.1 S3: an atomic commit point plus
readable history): records ``v{N}.json`` committed create-if-absent at
``head + 1``, so versions are DENSE. This module owns that structure —
listing, head resolution, the commit guard pair, the retention floor and
tombstoned retirement. The two logs own only what their records mean (file
lists and schemas; segment lists, geometry and txn watermarks).

Every step runs through ONE ``pyarrow.fs`` handle resolved once per log
(:func:`listing._resolve_fs`): a scheme-less local root, a ``file://`` root
and an ``s3://`` root run the same code. Only the create-if-absent
primitive itself picks a per-store mechanism
(:func:`commitio.commit_if_absent`), and every ``commitio`` call is looked
up at call time so tracers and tests can interpose on it.

On-disk names in the log directory:

- ``v{N}.json`` — the record committed at version N;
- ``_last_checkpoint`` — ``{"version": N}``, a head-resolution HINT;
- ``v{N}.retired`` — empty sidecar: retention retired version N (its
  content file is replaced by a ``{"tombstone": true}`` record);
- ``<marker>`` sentinel plus immutable ``<marker>_v{F}`` files — the
  retention FLOOR, the highest version retention ever retired
  (``_expired`` in the txn log, ``_floor`` in the pointer log).

Head resolution. Read the hint, check that the hinted record exists, then
probe FORWARD until the first missing version: O(commits-since-hint)
exists-probes, no LIST. A missing, torn or dangling hint (one that names a
coalesced version or a version past the head) falls back to the full LIST,
never to a wrong head. A hint is written every ``hint_interval`` commits;
last-writer-wins is correct because every writer records a version it
committed itself.

Retirement. Retention never deletes a record name outright: it writes the
sidecar (so one name-based LIST separates live from retired, no GET per
file), then replaces the content with a tombstone, so the name keeps
refusing create-if-absent and a stale writer fails naturally. Reading a
tombstone raises :class:`RecordRetired`, a ``FileNotFoundError`` whose
content alone PROVES expiry (only retention writes it). A tombstone pair
is COALESCED (deleted) one retention cycle later, once the floor recorded
by the PREVIOUS run covers it; a sidecar whose content is still live (a
retire that lost its content replace) is finished by
:meth:`VersionLog.retry_half_retired`, age-gated so it never races a
writer's post-link check.

Commit guard pair (:meth:`VersionLog.commit`). Before linking, a version
the floor already covers is refused — names freed by coalescing are
refused here, and nothing has landed, so nothing needs unwinding. After
linking, if the floor has since advanced past the version, the name is
classified by CONTENT: my own bytes mean the link won a freed name (a
stale reuse that slipped the pre-link guard), so it is unwound and
refused; a tombstone or a missing file means THIS commit landed live and
retention legitimately retired it afterwards (newer commits carry it
forward) — success, never a conflict (a false conflict would make the
caller's retry commit the same batch twice). Unreadable states count as
success: failing a commit that already landed would double-commit.

Retire-vs-marker ordering (:meth:`VersionLog.retire_prefix`) depends on
the store class (:func:`commitio.replace_is_atomic`):

- atomic-replace stores (local POSIX rename, a hooked S3-class single
  PUT): tombstone the victims FIRST, mark the floor second. The name is
  never absent mid-replace, so a straggler's create-if-absent is refused
  whatever the marker timing, and the false-unwind window has zero width:
  by the time a post-link check can see ``version <= floor``, the
  victim's content is already a tombstone. A marker that fails after the
  tombstones leaves a safe state: the names refuse commits, readers
  classify the tombstones by content, and a later run's floor covers them.
- rename-refusing stores (HDFS-class without a replace hook): mark FIRST.
  ``replace_put`` there is delete+move, an absence window a straggler's
  create-if-absent could win, and the pre-link floor refusal is what
  keeps every committer that reads the floor after the marker out of it.
  Without the marker nothing is retired. The cost is a one-replace-wide
  false-unwind window for the newest victim; closing it needs a
  conditional replace, which ``pyarrow.fs`` does not expose.

Both orders retire the NEWEST victim first: the only version a fresh
commit can hold is the highest victim, and a crash then leaves the fewest
above-floor pairs. Floor markers are create-if-absent and never replaced,
so the floor (the max marker) is monotonic even under racing retention
runs; markers below the new floor are dropped afterwards.
"""

from __future__ import annotations

import functools
import json
import re
import time

from pyarrow import fs as pafs

from etl_hiscox_spark.sources import commitio

HINT_NAME = "_last_checkpoint"
_RECORD_RE = re.compile(r"^v(\d+)\.json$")
_RETIRED_RE = re.compile(r"^v(\d+)\.retired$")


def join(root: str, *parts: str) -> str:
    """URI-safe path join (os.path.join would mangle ``scheme://``)."""
    return "/".join([root.rstrip("/"), *parts])


def check_root(spark, root: str, what: str) -> str:
    """Split-brain guard: ``pyarrow.fs`` treats a scheme-less path as
    driver-local while Spark resolves it against ``fs.defaultFS``, so on a
    cluster with a non-file defaultFS the log would land on the driver's
    disk and the data on the cluster FS. Scheme-less roots are accepted
    only when defaultFS is ``file:``."""
    if "://" in root or root.startswith("file:") or commitio._meta_is_local(spark, root):
        return root
    raise ValueError(
        f"{what} {root!r} is scheme-less but fs.defaultFS is not file: — pass "
        "a fully-qualified URI so the log and the data files resolve to the "
        "SAME filesystem"
    )


class RecordRetired(FileNotFoundError):
    """The record name holds a retention tombstone. A ``FileNotFoundError``
    so every handler that treats a deleted record as gone keeps working,
    while content-classifying readers can tell proven expiry apart."""


class VersionLog:
    """One log directory ``<root>/<log_name>/``.

    ``marker`` names the floor files; ``noun``, ``retired_by`` and
    ``rerun`` only word the errors (``"manifest"``/``"pointer"``, the
    retention op, the caller's re-run advice). ``last_head_resolution``
    reports how the last :meth:`head` was answered:
    ``{"mode": "checkpoint"|"list", "entries": n}``."""

    def __init__(
        self,
        spark,
        root: str,
        log_name: str,
        *,
        marker: str,
        noun: str,
        retired_by: str,
        rerun: str,
        hint_interval: int,
    ):
        self.spark = spark
        self.root = root
        self.log_name = log_name
        self.uri = join(root, log_name)
        self.marker = marker
        self._marker_re = re.compile(rf"^{re.escape(marker)}_v(\d+)$")
        self.noun = noun
        self.retired_by = retired_by
        self.rerun = rerun
        self.hint_interval = hint_interval
        self.last_head_resolution: dict | None = None

    @functools.cached_property
    def _resolved(self) -> tuple:
        from etl_hiscox_spark.sources import listing

        filesystem, base = listing._resolve_fs(self.root)
        return filesystem, base.rstrip("/")

    @property
    def fs(self):
        return self._resolved[0]

    @property
    def base(self) -> str:
        """The root's path on :attr:`fs`."""
        return self._resolved[1]

    @property
    def dir(self) -> str:
        return join(self.base, self.log_name)

    def path(self, name: str) -> str:
        return f"{self.dir}/{name}"

    # -- reads ---------------------------------------------------------------

    def names(self) -> list[str]:
        """One LIST of the log directory (file base names; [] if absent)."""
        infos = self.fs.get_file_info(
            pafs.FileSelector(self.dir, recursive=False, allow_not_found=True)
        )
        return [i.base_name for i in infos if i.type == pafs.FileType.File]

    def _retired(self, names: list[str]) -> list[int]:
        return [int(m.group(1)) for n in names if (m := _RETIRED_RE.match(n))]

    def versions(self) -> list[int]:
        """LIVE versions, sorted — one LIST; sidecar-retired ones excluded."""
        names = self.names()
        retired = set(self._retired(names))
        live = (int(m.group(1)) for n in names if (m := _RECORD_RE.match(n)))
        return sorted(v for v in live if v not in retired)

    def exists(self, version: int) -> bool:
        info = self.fs.get_file_info(self.path(f"v{version}.json"))
        return info.type == pafs.FileType.File

    def read_bytes(self, name: str) -> bytes:
        with self.fs.open_input_file(self.path(name)) as f:
            return f.read()

    def decode(self, version: int, raw: bytes) -> dict:
        rec = json.loads(raw.decode("utf-8"))
        if rec.get("tombstone"):
            raise RecordRetired(
                f"{self.noun} v{version} at {self.root!r} was retired by "
                f"{self.retired_by} (expired by retention) — the version is no "
                "longer readable; re-resolve the live head"
            )
        return rec

    def read(self, version: int) -> dict:
        return self.decode(version, self.read_bytes(f"v{version}.json"))

    # -- head hint -----------------------------------------------------------

    def read_hint(self) -> int | None:
        """The recorded head hint, or None (absent / unreadable / torn)."""
        try:
            return int(json.loads(self.read_bytes(HINT_NAME).decode("utf-8"))["version"])
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def write_hint(self, version: int) -> None:
        """Record ``version`` as a known-committed head. Failures are
        swallowed: the commit it describes has landed, and a lost hint
        costs one LIST fallback, never a wrong head."""
        record = json.dumps({"version": int(version)}).encode("utf-8")
        try:
            commitio.replace_put(self.fs, self.path(HINT_NAME), record)
        except OSError:
            pass

    def drop_hint(self) -> None:
        try:
            self.fs.delete_file(self.path(HINT_NAME))
        except OSError:
            pass

    def head(self) -> int | None:
        """Highest committed version, or None for an empty log."""
        hint = self.read_hint()
        if hint is None or not self.exists(hint):
            vs = self.versions()
            self.last_head_resolution = {"mode": "list", "entries": len(vs)}
            return vs[-1] if vs else None
        v, probes = hint, 0
        while True:
            probes += 1
            if not self.exists(v + 1):
                break
            v += 1
        self.last_head_resolution = {"mode": "checkpoint", "entries": probes}
        return v

    # -- retention floor -------------------------------------------------------

    def trimmed_ever(self) -> bool:
        """True once any retention run marked a floor (one stat)."""
        return self.fs.get_file_info(self.path(self.marker)).type == pafs.FileType.File

    def read_floor(self) -> int:
        """Highest version retention ever retired here, or -1."""
        best = -1
        for name in self.names():
            if m := self._marker_re.match(name):
                best = max(best, int(m.group(1)))
        return best

    def mark_floor(self, floor: int) -> None:
        """Commit the sentinel + marker for a floor — create-if-absent; a
        present name is a racing run having done the same work. Raises
        ``OSError`` on store failure."""
        for name in (self.marker, f"{self.marker}_v{floor}"):
            try:
                commitio.commit_if_absent(self.spark, join(self.uri, name), b"")
            except FileExistsError:
                pass

    def _floor_covers(self, version: int) -> bool:
        """``version <= floor``; an unreadable floor answers False."""
        try:
            return self.trimmed_ever() and version <= self.read_floor()
        except OSError:
            return False

    # -- commit ----------------------------------------------------------------

    def _retired_error(self, version: int) -> FileExistsError:
        return FileExistsError(
            f"{self.noun} v{version} at {self.root!r} was already retired by "
            f"{self.retired_by} (stale head resolve spanning a retention run) "
            f"— {self.rerun}"
        )

    def commit(self, version: int, record: dict) -> bool:
        """Create-if-absent commit of ``record`` at ``version`` behind the
        guard pair (module docstring). Raises ``FileExistsError`` when the
        version is taken or retired. Returns True when the record is live
        as committed, False when retention retired it right after it
        landed (still a success)."""
        if self._floor_covers(version):
            raise self._retired_error(version)
        raw = json.dumps(record).encode("utf-8")
        name = f"v{version}.json"
        try:
            commitio.commit_if_absent(self.spark, join(self.uri, name), raw)
        except FileExistsError as exc:
            raise FileExistsError(
                f"{self.noun} v{version} at {self.root!r} already committed — "
                f"concurrent commit race; {self.rerun}"
            ) from exc
        swept = self._floor_covers(version)
        if swept:
            try:
                mine = self.read_bytes(name) == raw
            except OSError:
                mine = False  # tombstoned+coalesced or unreadable: landed live
            if mine:
                try:
                    self.fs.delete_file(self.path(name))
                except OSError:
                    pass  # a racing retention run tombstoned it already
                raise self._retired_error(version)
        if version > 0 and version % self.hint_interval == 0:
            self.write_hint(version)
        return not swept

    def replace(self, version: int, record: dict) -> None:
        """In-place record replace (:func:`commitio.replace_put`): atomic
        where the store replaces in one step, delete+move with a brief
        absence window on rename-refusing stores."""
        data = json.dumps(record).encode("utf-8")
        commitio.replace_put(self.fs, self.path(f"v{version}.json"), data)

    # -- retirement --------------------------------------------------------------

    def _tombstone(self, version: int) -> None:
        tomb = json.dumps({"tombstone": True, "retired_at": time.time()}).encode("utf-8")
        try:
            commitio.replace_put(self.fs, self.path(f"v{version}.json"), tomb)
        except OSError:
            pass  # half-retired: retry_half_retired finishes it

    def retire(self, version: int) -> None:
        """Sidecar first (listing), then the tombstone content replace.
        Store errors are absorbed: the next retention run retries."""
        try:
            commitio.replace_put(self.fs, self.path(f"v{version}.retired"), b"")
        except OSError:
            return
        self._tombstone(version)

    def retire_is_atomic(self) -> bool:
        """True when the tombstone replace is one atomic swap on this
        store — selects the retire-vs-marker order."""
        return commitio.replace_is_atomic(self.fs)

    def retry_half_retired(self, min_age_seconds: float) -> None:
        """Finish retires that wrote the sidecar but lost the content
        replace. Such a name is excluded from :meth:`versions` (no run
        re-victims it) yet a direct read still serves the record, and
        coalescing skips it forever. Records younger than
        ``min_age_seconds`` (by their own ``committed_at``) are left
        alone: their writer's post-link check may still be in flight."""
        cutoff = time.time() - min_age_seconds
        for v in self._retired(self.names()):
            try:
                rec = json.loads(self.read_bytes(f"v{v}.json").decode("utf-8"))
            except (OSError, ValueError):
                continue  # coalesced / transient / torn: not this pass's job
            if rec.get("tombstone") or rec.get("committed_at", 0.0) > cutoff:
                continue
            self._tombstone(v)

    def _coalesce(self, floor_before: int) -> None:
        """Delete tombstone pairs the floor covered BEFORE this run. A live
        record at a retired version is a crashed stale commit's leftover,
        never coalesce-bait; an unreadable one is left to the next run."""
        if floor_before < 0:
            return
        for v in self._retired(self.names()):
            if v > floor_before:
                continue
            content = self.path(f"v{v}.json")
            try:
                rec = json.loads(self.read_bytes(f"v{v}.json").decode("utf-8"))
            except FileNotFoundError:
                rec = None  # content already coalesced: sidecar cleanup below
            except (OSError, ValueError):
                continue
            if rec is not None:
                if not rec.get("tombstone"):
                    continue
                try:
                    self.fs.delete_file(content)
                except FileNotFoundError:
                    pass  # a racing coalesce got there first
                except OSError:
                    continue  # keep the pair intact for the next run
            try:
                self.fs.delete_file(self.path(f"v{v}.retired"))
            except OSError:
                pass

    def _drop_markers_below(self, floor: int) -> None:
        for name in self.names():
            m = self._marker_re.match(name)
            if m and int(m.group(1)) < floor:
                try:
                    self.fs.delete_file(self.path(name))
                except OSError:
                    pass

    def retire_prefix(self, victims: list[int]) -> bool:
        """Retire ``victims`` (an ascending prefix of the live versions)
        in the store-class order of the module docstring, then coalesce
        the pairs the previous floor covered and drop superseded markers.
        Returns whether the floor marker landed; when it did not, nothing
        was retired on rename-refusing stores, and on atomic stores the
        victims are tombstoned but coalescing waits for a later run."""
        try:
            floor_before = self.read_floor() if self.trimmed_ever() else -1
        except OSError:
            floor_before = -1  # unknown: coalesce nothing this run
        atomic = self.retire_is_atomic()
        if atomic:
            for v in reversed(victims):
                self.retire(v)
        try:
            self.mark_floor(victims[-1])
        except OSError:
            # the marker may have landed before the error: ask the store
            if not self._floor_covers(victims[-1]):
                return False
        if not atomic:
            for v in reversed(victims):
                self.retire(v)
        self._coalesce(floor_before)
        self._drop_markers_below(victims[-1])
        return True
