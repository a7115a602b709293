"""THE atomic create-if-absent commit primitive (r13, VERDICT r12 items
2-3 + ADVICE r12 medium).

Both commit logs in this repo — the txn-table manifest log
(:mod:`txnlog`, carrying the exactly-once sink / OPTIMIZE / OCC / GDPR
history protocols) and the index generation-pointer log (:mod:`genlog`)
— run on one versioned-log core (:mod:`versionlog`) and reduce every
correctness claim to one primitive: *commit these bytes at this name,
failing loudly if the name is already committed*. Before r13 the
non-local branch degraded on S3-class stores: ``exists-check + move``
is atomic on HDFS (rename refuses an existing destination) but on S3
``move`` is copy+delete and silently REPLACES — two racing maintenance
ops could both pass the check and the later one would overwrite the
pointer, defeating the base-version collision guard (a compact staged
pre-erase could resurrect GDPR-erased rows). This module is the one
implementation, with the degradation removed:

- **driver-local** paths (``file:`` scheme, or scheme-less with
  ``fs.defaultFS=file:``): tmp write + ``os.link`` — POSIX's
  content-carrying create-if-absent; the race loses with
  ``FileExistsError`` and a reader can never observe a torn record.
- **HDFS** (``pyarrow.fs.HadoopFileSystem``): staged write + rename.
  HDFS ``rename`` refuses an existing destination, so the exists-check
  is advisory and the rename itself is the guarantee.
- **everything else** (S3/GCS/ABFS/...): REFUSED unless the deployment
  registers a conditional-PUT hook (:func:`register_put_if_absent`) —
  S3 ``If-None-Match: *``, GCS ``if-generation-match: 0``, ABFS
  ``If-None-Match`` — or points the log at a LogStore-style coordinator.
  Refusing is the ADVICE r12 contract: a commit log that silently
  becomes last-writer-wins on the exact store class the generational
  layout exists for is worse than one that fails loudly at deploy time.

The primitive is injectable for tests: :func:`register_put_if_absent`
keys on the ``pyarrow.fs`` filesystem type name, and the race test in
``tests/test_commitio.py`` drives an injected interleaving where both
writers pass their exists check and exactly one commit lands.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable

# fs-type-name -> fn(filesystem, final_path: str, data: bytes) -> None.
# The fn MUST be create-if-absent: raise FileExistsError when final_path
# already exists, atomically (a conditional PUT, not exists-check+put).
_PUT_IF_ABSENT: dict[str, Callable] = {}

# fs-type-name -> fn(filesystem, final_path: str, data: bytes) -> None.
# The fn replaces final_path ATOMICALLY with a SINGLE-SHOT write (r15,
# VERDICT r14 item 3): the hint/repoint records replace_put carries are
# KB-scale (checkpoints, expire watermarks, erase-repointed manifests)
# and never need multipart upload — on S3-class stores a plain PutObject
# IS the atomic replace, with no staged-tmp + copy+delete move and no
# absence window, and it sidesteps emulators/proxies that choke on
# CompleteMultipartUpload (the moto incompatibility that kept the r14
# tests on injected degradation).
_REPLACE_PUT: dict[str, Callable] = {}


def register_put_if_absent(fs_type_name: str, fn: Callable) -> None:
    """Register the conditional-PUT commit hook for a ``pyarrow.fs``
    filesystem class (e.g. ``"S3FileSystem"``). The hook is the store's
    native atomic create-if-absent — S3 ``PutObject`` with
    ``If-None-Match: *`` (boto3, since the 2024 S3 API), GCS insert with
    ``if-generation-match: 0`` — and MUST raise ``FileExistsError`` when
    the destination already exists. Passing ``None`` unregisters."""
    if fn is None:
        _PUT_IF_ABSENT.pop(fs_type_name, None)
    else:
        _PUT_IF_ABSENT[fs_type_name] = fn


def register_replace_put(fs_type_name: str, fn: Callable) -> None:
    """Register the single-shot replace-PUT hook for a ``pyarrow.fs``
    filesystem class (e.g. ``"S3FileSystem"``): one atomic full-object
    write that REPLACES the destination — S3 ``PutObject``, GCS insert.
    Used by :func:`replace_put` for KB-scale protocol records instead of
    pyarrow's multipart output stream + copy/delete move. Passing
    ``None`` unregisters."""
    if fn is None:
        _REPLACE_PUT.pop(fs_type_name, None)
    else:
        _REPLACE_PUT[fs_type_name] = fn


def s3_replace_put_hook():
    """Reference replace-PUT hook for S3 (register with
    ``register_replace_put("S3FileSystem", s3_replace_put_hook())``):
    a plain single-shot ``PutObject`` — on S3 that is natively an atomic
    last-writer-wins replace, exactly replace_put's contract, with none
    of multipart's moving parts. Requires boto3 (same deployment gate as
    :func:`s3_conditional_put_hook`).

    botocore failures are re-raised as ``OSError`` (r16, ADVICE r15:
    ClientError/BotoCoreError are NOT OSError subclasses, but the
    best-effort head-hint writer (``versionlog.VersionLog.write_hint``)
    swallows exactly OSError; a raw botocore error on a hint write
    would fail a writer whose COMMIT already landed, and the caller's
    retry would double-commit)."""
    import boto3  # deployment-only dependency; ImportError is the gate
    from botocore.exceptions import BotoCoreError, ClientError

    client = boto3.client("s3")

    def do_replace(filesystem, path: str, data: bytes) -> None:
        bucket, key = path.split("/", 1)
        try:
            client.put_object(Bucket=bucket, Key=key, Body=data)
        except (ClientError, BotoCoreError) as exc:
            raise OSError(str(exc)) from exc

    return do_replace


def s3_conditional_put_hook():
    """Reference conditional-PUT hook for S3 (register with
    ``register_put_if_absent("S3FileSystem", s3_conditional_put_hook())``):
    ``PutObject`` with ``If-None-Match: "*"`` — S3 accepts the object only
    if the key does not exist (412 Precondition Failed otherwise; the S3
    conditional-write API, GA since 2024). Requires boto3 (a deployment
    dependency, not baked into this container — the import is the gate);
    bucket/key come from the pyarrow-resolved path (``bucket/key...``)."""
    import boto3  # deployment-only dependency; ImportError is the gate
    from botocore.exceptions import BotoCoreError, ClientError

    client = boto3.client("s3")

    def put_if_absent(filesystem, path: str, data: bytes) -> None:
        bucket, key = path.split("/", 1)
        try:
            client.put_object(Bucket=bucket, Key=key, Body=data, IfNoneMatch="*")
        except ClientError as exc:
            code = exc.response.get("Error", {}).get("Code")
            if code in ("PreconditionFailed", "412"):
                raise FileExistsError(path) from exc
            # non-collision failures surface as OSError (r16, same
            # contract as the replace hook: the best-effort marker
            # writers — e.g. vacuum's floor-marker wrapper — swallow
            # exactly OSError, and botocore errors are not OSErrors)
            raise OSError(str(exc)) from exc
        except BotoCoreError as exc:
            raise OSError(str(exc)) from exc

    return put_if_absent


def _meta_is_local(spark, path: str) -> bool:
    """True only when the path resolves to the DRIVER's local filesystem.

    An explicit remote scheme (hdfs://, s3a://, ...) is never local; a
    scheme-less path is local only if Spark's fs.defaultFS is file: —
    on a cluster with defaultFS=hdfs://, '/warehouse/idx' goes to HDFS
    via Spark while a naive driver-side shortcut would write to the
    driver's local disk, splitting the index or table.

    Any ``file:`` prefix counts as local (ADVICE r11): Hadoop's
    ``Path.toString()`` renders local URIs as single-slash ``file:/x``,
    which has no ``://`` — without this the fragmentation walk would
    mis-qualify the dir with a non-file defaultFS."""
    if path.startswith("file:"):
        return True
    if "://" in path:
        return False
    default_fs = (
        spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    )
    return default_fs.startswith("file:")


def commit_if_absent(spark, uri: str, data: bytes) -> None:
    """Atomically commit ``data`` at ``uri``, create-if-absent: raises
    ``FileExistsError`` if ``uri`` is already committed (the loser of a
    commit race must re-resolve, never blind-retry), and a concurrent
    reader can never observe a partially-written record. The parent
    directory is created if missing. See the module docstring for the
    per-store primitive and the refusal contract."""
    if _meta_is_local(spark, uri):
        from etl_hiscox_spark.sources.writers import _local_fs_path

        final = _local_fs_path(uri)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        tmp = final + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, final)  # FileExistsError on a commit race
        finally:
            os.unlink(tmp)
        return
    from pyarrow import fs as pafs

    from etl_hiscox_spark.sources.listing import _resolve_fs

    filesystem, final = _resolve_fs(uri)
    fs_type = type(filesystem).__name__
    hook = _PUT_IF_ABSENT.get(fs_type)
    if hook is not None:
        hook(filesystem, final, data)
        return
    if fs_type == "HadoopFileSystem":
        # HDFS rename REFUSES an existing destination — the rename is the
        # atomic create-if-absent; the exists pre-check only improves the
        # error message for the common (non-racing) case.
        filesystem.create_dir(os.path.dirname(final), recursive=True)
        if filesystem.get_file_info(final).type != pafs.FileType.NotFound:
            raise FileExistsError(
                f"commit record {uri!r} already committed — concurrent "
                "commit race; re-resolve the log head and re-run"
            )
        tmp = f"{os.path.dirname(final)}/.{os.path.basename(final)}.{uuid.uuid4().hex}.tmp"
        with filesystem.open_output_stream(tmp) as f:
            f.write(data)
        try:
            filesystem.move(tmp, final)
        except OSError as exc:
            # Disambiguate before reporting (r13 review): a rename OSError
            # is NOT always "destination exists" — quota/permission/network
            # errors must surface as themselves, and the
            # rename-landed-but-client-errored case must NOT be reported
            # as a race (the OCC caller would then re-commit the same
            # staged batch at the next version and double-count its rows).
            try:
                info = filesystem.get_file_info(final)
                landed = info.type != pafs.FileType.NotFound
                content = None
                if landed:
                    with filesystem.open_input_file(final) as f:
                        content = f.read()
            except OSError:
                landed, content = False, None
            try:
                filesystem.delete_file(tmp)
            except OSError:
                pass  # tmp may have been consumed by a landed rename
            if not landed:
                raise  # transient failure, not a race — surface it
            if content == data:
                return  # our rename actually landed; the commit is real
            raise FileExistsError(
                f"commit record {uri!r} already committed — concurrent "
                "commit race; re-resolve the log head and re-run"
            ) from exc
        return
    # S3-class stores: pyarrow's move is copy+delete and silently
    # REPLACES an existing destination — an exists-check + move here
    # would degrade the commit log to last-writer-wins under exactly the
    # race the log exists to make loud (ADVICE r12). Refuse.
    raise NotImplementedError(
        f"commit_if_absent on {fs_type} ({uri!r}): this store has no "
        "portable atomic create-if-absent through pyarrow.fs — register "
        "the store's conditional PUT (S3 'If-None-Match: *', GCS "
        "'if-generation-match: 0') with "
        "etl_hiscox_spark.sources.commitio.register_put_if_absent, or "
        "front the log with a LogStore-style coordinator. Refusing "
        "loudly beats a silent last-writer-wins commit log."
    )


def replace_is_atomic(filesystem) -> bool:
    """True when :func:`replace_put` on this filesystem is ONE atomic
    content swap with no absence window and no contestable intermediate
    state: a registered single-shot hook (S3-class PutObject — natively
    an atomic replace), or a local filesystem (pyarrow's move is POSIX
    ``rename(2)``, which atomically replaces an existing destination).
    False for HDFS-class stores, whose rename REFUSES an existing
    destination so replace_put falls back to delete+move — a window in
    which the name is ABSENT and a concurrent create-if-absent can win
    it. Retention orders its tombstone replaces against the floor/
    watermark marker differently per class (r17): on atomic stores the
    replaces go FIRST (zero-width false-unwind window — the post-link
    classifier can never read its own bytes at a floor-covered name);
    on rename-refusing stores the marker goes first, because the
    pre-link floor refusal is what keeps stragglers from contesting the
    absence window, at the cost of the documented one-replace-wide
    false-unwind gap."""
    name = type(filesystem).__name__
    return name in _REPLACE_PUT or name == "LocalFileSystem"


def replace_put(filesystem, path: str, data: bytes) -> None:
    """Write ``data`` at ``path`` REPLACING any existing file, through
    ``pyarrow.fs`` — the hint-record primitive (checkpoint pointers),
    where last-writer-wins is correct by contract and a brief absence
    window costs one LIST fallback, never a wrong answer. NOT for commit
    records — those are :func:`commit_if_absent`. With a registered
    single-shot hook (:func:`register_replace_put` — S3-class stores,
    where a plain PUT is natively an atomic replace) the write is ONE
    full-object PUT: no multipart, no staged tmp, no copy+delete move,
    no absence window. Otherwise: staged tmp + move; HDFS rename refuses
    an existing destination, so on that refusal the old file is deleted
    and the move retried. The parent directory must already exist — the
    head hint and the retention records target the log directory a
    commit already wrote into, so an extra create_dir RPC per write
    would be pure tax."""
    hook = _REPLACE_PUT.get(type(filesystem).__name__)
    if hook is not None:
        hook(filesystem, path, data)
        return
    from pyarrow import fs as pafs

    parent = path.rsplit("/", 1)[0]
    tmp = f"{parent}/.{path.rsplit('/', 1)[1]}.{uuid.uuid4().hex}.tmp"
    with filesystem.open_output_stream(tmp) as f:
        f.write(data)
    try:
        filesystem.move(tmp, path)
        return
    except OSError:
        if filesystem.get_file_info(path).type == pafs.FileType.NotFound:
            try:
                filesystem.delete_file(tmp)
            except OSError:
                pass
            raise  # not a rename-refusal: surface the real error
    try:
        filesystem.delete_file(path)
        filesystem.move(tmp, path)
    except OSError:
        try:
            filesystem.delete_file(tmp)
        except OSError:
            pass
        raise
