"""Hadoop-FS primitives and the one maintenance lock protocol.

Two families of persisted artifacts are rewritten between runs: the
admission-gate STORES (`operators/gate_maintenance.py`: compact_store,
retire_from_store, convert_store_to_versioned) and the foreachBatch
DECISIONS LOGS (`streaming/events.py`: compact_gate_decisions).  "Run
maintenance only between runs" is a two-sided lock for both, and this
module is its only implementation; each family is one `_LockFamily`
configuration of it (marker path, claims directory, error wording):

  family   marker                  claims
  store    `<store>.maintenance`   `<store>.claims/<uuid>`
  log      `<log>/_maintenance`    `<log>/_claims/<uuid>`

The store family's files are SIBLINGS of the store root (they must
survive the rename swap that moves the root itself aside); the log
family's live inside the log under `_` names, which parquet reads hide.

  maintenance:  `_maintenance_pass` — CAS-take the marker
                (`_take_marker`), refuse while ANY claim file exists,
                run, release the marker on every exit except a crash or
                an exit from inside `hold.stranded()` (the data has no
                live copy there, so gates must keep failing fast with
                guidance until an operator restores it).
  user:         `_user_claim` — check the marker (`_check_marker`) →
                CREATE a claim → RE-CHECK the marker (a pass that took
                the marker in between wins; the user backs out, deleting
                its claim) → run → delete.

Every interleaving resolves: a claim created before the pass lists the
claims is seen there (the pass backs out); one created after it
necessarily post-dates the marker, so the user's re-check sees the
marker (the user backs out).  Crash adjudication is asymmetric: a
crashed PASS leaves the marker (verify nothing runs, delete it, re-run;
the passes repair their own crash windows); a crashed USER leaves a
claim that only blocks maintenance — delete it, or let `_sweep_claims`
age it out by the JSON payload every claim carries (`_claim_payload`).

The lock needs ATOMIC create-if-absent and read-after-write visibility.
HDFS and POSIX provide both; baseline s3a does NOT provide the first
(its create(overwrite=false) is HEAD-then-PUT), so every CAS — marker,
claim, versioned manifest flip — refuses s3/s3a paths unless the
operator attests a conditional-create-capable client
(`_check_atomic_create_capable`), and does so before its first
filesystem access.  The marker check runs the same refusal, so the
read-side entry points (marker checks, stale sweeps, store_stats) give
this guidance on such paths too, not a raw ClassNotFoundException.
"""

from __future__ import annotations

import json
import os
import socket
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import NamedTuple

from pyspark.sql import SparkSession

# --------------------------------------------------------------------------
# Hadoop-FS primitives
# --------------------------------------------------------------------------


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path, jvm) for any Hadoop-FS path — local, HDFS, s3a."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _fs_read_text(spark: SparkSession, path_str: str) -> str | None:
    """Contents of a small text file via the Hadoop FS API (None when
    absent) — markers and claims are one-line files.  Absence is
    checked TWICE: exists→open is not atomic, and a marker released by
    a concurrent maintenance pass between the two must read as absent
    (the state it is in), not as a raw Java FileNotFoundException — the
    live two-thread stress test caught exactly that interleaving."""
    fs, jpath, jvm = _hadoop_fs(spark, path_str)
    if not fs.exists(jpath):
        return None
    try:
        inp = fs.open(jpath)
    except Exception as e:
        # a FileNotFound AT OPEN TIME is authoritative absence — the
        # open itself is the linearization point (a bare exists()
        # re-check is not enough: a rapidly flapping marker can be
        # re-created by the next maintenance pass before the re-check)
        if "FileNotFoundException" in str(e) or not fs.exists(jpath):
            return None
        raise
    try:
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(inp, "UTF-8"))
        lines = []
        while (line := reader.readLine()) is not None:
            lines.append(line)
        return "\n".join(lines)
    finally:
        inp.close()


def _write(out, text: str) -> None:
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_write_text(spark: SparkSession, path_str: str, text: str) -> None:
    """Write (overwrite) a small text file via the Hadoop FS API."""
    fs, jpath, _ = _hadoop_fs(spark, path_str)
    _write(fs.create(jpath, True), text)


def _fs_create_text(spark: SparkSession, path_str: str, text: str) -> bool:
    """Create a small text file FAILING IF IT EXISTS (the Hadoop FS
    create(overwrite=false) contract — atomic claim on HDFS and local
    FS; on s3/s3a paths the lock gates on `_check_atomic_create_capable`
    first, because baseline s3a implements this as HEAD-then-PUT).
    Returns False when the path already exists (lost the race); True
    when this caller created it.  Any OTHER create failure — a transient
    FS error, a permission problem — re-raises instead of reading as a
    lost race (which would surface as a misleading 'claimed by another
    run' diagnosis downstream): after the exception, the path existing
    is the one signal that someone else actually won."""
    fs, jpath, _ = _hadoop_fs(spark, path_str)
    try:
        out = fs.create(jpath, False)
    except Exception:
        if fs.exists(jpath):
            return False  # genuinely lost the race — the claim exists
        raise
    _write(out, text)
    return True


_S3_SCHEMES = ("s3a", "s3n", "s3")
_ATOMIC_CREATE_ATTESTATION = "sparkgraft.fs.atomic.create.attested"


def _check_atomic_create_capable(spark: SparkSession, path_str: str, what: str) -> None:
    """Every CAS in the lock (markers, store-user and log-user claims,
    the versioned manifest flip) rests on `_fs_create_text` being an
    ATOMIC create-if-absent.  HDFS and POSIX local filesystems provide
    that; BASELINE s3a does NOT — Hadoop's `create(overwrite=false)`
    there is a HEAD-then-PUT check-then-act, so two racing passes could
    BOTH win a marker claim or a manifest flip even under S3 strong
    consistency (which only makes the individual operations consistent,
    not the pair atomic).  Refuse the protocol on s3/s3n/s3a paths
    unless the operator attests the capability by setting the Hadoop
    conf `sparkgraft.fs.atomic.create.attested=true` (via
    `spark.hadoop.sparkgraft.fs.atomic.create.attested=true`) — the
    attestation means the s3a client actually performs conditional
    If-None-Match creates (Hadoop 3.4.1+ ships s3a conditional-create
    support; it must be enabled, and the store must honor If-None-Match,
    as AWS S3 does since 2024).  Non-S3 object stores (abfs, gs) provide
    atomic create natively and are not gated.

    A SCHEME-LESS path resolves against `fs.defaultFS`, so the check
    parses that conf's scheme for it — a cluster whose default
    filesystem is s3a must not bypass the refusal just because callers
    pass bare paths.  Both checks are string parses of the path/conf:
    no FileSystem is instantiated, so the refusal works (with this
    guidance, not a ClassNotFound) even where the s3a classes are not
    on the classpath — which is why the marker take and the marker
    check (and with it the user claims and the stale sweeps) run it
    before their first filesystem access."""
    if "://" in path_str:
        scheme = path_str.split("://", 1)[0].lower()
    else:
        default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        scheme = default_fs.split("://", 1)[0].lower() if "://" in default_fs else ""
    if scheme not in _S3_SCHEMES:
        return
    if spark._jsc.hadoopConfiguration().getBoolean(_ATOMIC_CREATE_ATTESTATION, False):
        return
    raise RuntimeError(
        f"{what} at {path_str} needs an ATOMIC create-if-absent, which "
        f"baseline {scheme}:// does not provide (Hadoop's "
        "create(overwrite=false) on s3a is a HEAD-then-PUT check-then-act "
        "— two racing passes could both win the claim). If your s3a "
        "client performs conditional If-None-Match creates (Hadoop "
        "3.4.1+ with conditional create enabled), attest it by setting "
        f"spark.hadoop.{_ATOMIC_CREATE_ATTESTATION}=true; otherwise run "
        "maintenance attended with external mutual exclusion, or keep "
        "markers/claims on an HDFS/POSIX path"
    )


# --------------------------------------------------------------------------
# claim files
# --------------------------------------------------------------------------

_STAMP = "%Y-%m-%dT%H:%M:%SZ"


def _claim_payload(what: str) -> str:
    """The JSON payload every claim file carries since r12 — the
    machine-adjudicable identity of the holder: an ISO-8601 UTC creation
    stamp (what the stale sweep ages against), the holder's pid and
    host, and the free-text `what`.  One line, parseable, still
    human-readable in an `ls`+`cat`."""
    return json.dumps(
        {
            "what": what,
            "created_utc": datetime.now(timezone.utc).strftime(_STAMP),
            "pid": os.getpid(),
            "host": socket.gethostname(),
        }
    )


def _claim_files_info(spark: SparkSession, claims_dir: str) -> list[dict]:
    """One record per live claim file under `claims_dir`:
    {name, path, what, created_utc, pid, host, age_s}, hidden/checksum
    siblings excluded.  `age_s` is computed from the payload's creation
    stamp against this process's clock — a pre-r12 claim with a
    bare-text payload, or a JSON payload with a missing/malformed stamp
    (which keeps its parsed identity fields), falls back to the file's
    FS modification time.  Cross-host clock skew therefore shifts ages;
    size stale thresholds in hours, not seconds.  A claim its holder
    deletes between the listing and the read is skipped (it is gone)."""
    fs, jdir, _ = _hadoop_fs(spark, claims_dir)
    if not fs.exists(jdir):
        return []
    now = datetime.now(timezone.utc)
    out = []
    for st in fs.listStatus(jdir):
        name, path = st.getPath().getName(), st.getPath().toString()
        if name.startswith((".", "_")) or (raw := _fs_read_text(spark, path)) is None:
            continue
        try:
            payload = dict(json.loads(raw))
        except Exception:
            payload = {"what": raw}  # pre-r12 bare-text payload
        rec = {"name": name, "path": path}
        rec.update({k: payload.get(k) for k in ("what", "created_utc", "pid", "host")})
        try:
            created = datetime.strptime(payload["created_utc"], _STAMP)
            created = created.replace(tzinfo=timezone.utc)
        except Exception:
            mtime = st.getModificationTime() / 1000.0
            created = datetime.fromtimestamp(mtime, tz=timezone.utc)
        rec["age_s"] = max(0.0, (now - created).total_seconds())
        out.append(rec)
    return out


# --------------------------------------------------------------------------
# the lock protocol — one implementation of each step
# --------------------------------------------------------------------------


class _LockFamily(NamedTuple):
    """Where a data path keeps its marker and claims, and how its errors
    read.  `busy` (marker held) is formatted with {path} and {marker},
    `taken` (marker CAS lost) also with {holder}, `claimed` (claims
    present when a pass starts) with {cd} and {holders}."""

    marker_suffix: str
    claims_suffix: str
    name: str
    busy: str
    taken: str
    claimed: str

    def marker(self, path: str) -> str:
        return path.rstrip("/") + self.marker_suffix

    def claims(self, path: str) -> str:
        return path.rstrip("/") + self.claims_suffix


_STORE = _LockFamily(
    ".maintenance",
    ".claims",
    "store",
    busy="store at {path} is under maintenance "
    "(compact_store/retire_from_store hold {marker}): the rewrite "
    "momentarily renames the live store aside, so scanning or "
    "appending now would fail mid-plan or see a half-swapped "
    "store. Wait for the maintenance pass to finish. If it "
    "CRASHED (no maintenance process is running), the store is "
    "intact or auto-restorable — delete the marker and re-run "
    "the maintenance helper, THEN resume the gate",
    taken="another maintenance pass ({holder}) already holds {marker} — "
    "either it is still running (wait for it), or it crashed and "
    "left the marker (the store is intact or auto-restorable: "
    "verify no maintenance process is running, delete the marker, "
    "and re-run)",
    claimed="active store-user claims under {cd}: {holders} — a gate "
    "epoch or append is mid-flight; wait for it and re-run this "
    "maintenance pass. If a claimant CRASHED (nothing is "
    "running), the store is untouched: delete the stale claim "
    "file(s) and re-run",
)

_LOG = _LockFamily(
    "/_maintenance",
    "/_claims",
    "log",
    busy="decisions log at {path} is under maintenance "
    "(compact_gate_decisions holds its _maintenance marker) — "
    "a gate epoch committed mid-fold would be silently "
    "deleted by the fold. Stop the maintenance pass or wait "
    "for it; if it CRASHED, delete the marker and re-run "
    "compact_gate_decisions to completion, then start the "
    "next run with a fresh decisions_path + checkpoint pair",
    taken="decisions log at {path} already holds a _maintenance marker "
    "— another compact_gate_decisions pass is running (wait for "
    "it), or a crashed one left the marker (verify nothing is "
    "running, delete the marker, and re-run; the fold resumes "
    "safely from its _compacted commit point)",
    claimed="active gate-epoch claims under {cd}: {holders} — a gate "
    "epoch is mid-flight; stop the stream (or wait for the epoch) "
    "and re-run the fold. If the claimant CRASHED (no stream is "
    "running), the log is untouched: delete the stale claim "
    "file(s) and re-run",
)


def _check_marker(spark: SparkSession, fam: _LockFamily, path: str) -> None:
    """Fail fast with the family's guidance while a maintenance pass —
    or a crashed one — holds the marker.  Runs the atomic-create check
    first: markers and claims on an unattested s3 path can only be
    misread, never taken, so every entry point that starts here (the
    marker checks, the user claims, the stale sweeps) refuses with the
    attestation guidance before its first filesystem access."""
    path = path.rstrip("/")
    _check_atomic_create_capable(spark, fam.marker(path), f"{fam.name} maintenance lock")
    if _fs_read_text(spark, fam.marker(path)) is not None:
        raise RuntimeError(fam.busy.format(path=path, marker=fam.marker(path)))


def _take_marker(spark: SparkSession, fam: _LockFamily, path: str, what: str) -> str:
    """Take the marker (compare-and-set on the atomic create-if-absent)
    with `what` as its content; returns the marker path.  Raises when
    another pass — or a crashed one — already holds it."""
    path = path.rstrip("/")
    marker = fam.marker(path)
    _check_atomic_create_capable(spark, marker, f"{fam.name} maintenance marker CAS")
    if not _fs_create_text(spark, marker, what):
        holder = _fs_read_text(spark, marker)
        raise RuntimeError(fam.taken.format(path=path, marker=marker, holder=holder))
    return marker


class _Hold:
    """A running maintenance pass.  Code inside `stranded()` leaves the
    data with no live copy (mid-swap renames); an exit from there keeps
    the marker."""

    kept = False

    @contextmanager
    def stranded(self):
        self.kept = True
        yield
        self.kept = False


@contextmanager
def _maintenance_pass(spark: SparkSession, fam: _LockFamily, path: str, what: str):
    """Hold the marker for one maintenance pass: take it, refuse while
    any claim exists (the raise releases the marker, so the user
    finishes undisturbed and the pass simply re-runs later), yield a
    `_Hold`, and release the marker on every exit that leaves live
    data — success or raised guard.  A process crash, or an exit from
    inside `hold.stranded()`, keeps it."""
    marker = _take_marker(spark, fam, path, what)
    hold = _Hold()
    try:
        holders = sorted(r["name"] for r in _claim_files_info(spark, fam.claims(path)))
        if holders:
            raise RuntimeError(fam.claimed.format(cd=fam.claims(path), holders=holders))
        yield hold
    finally:
        if not hold.kept:
            fs, jmarker, _ = _hadoop_fs(spark, marker)
            fs.delete(jmarker, False)


@contextmanager
def _user_claim(spark: SparkSession, fam: _LockFamily, path: str, what: str):
    """The two-phase SHARED user claim (module docstring): check the
    marker, create `<claims>/<uuid>` carrying `_claim_payload(what)`,
    re-check the marker, run, delete the claim."""
    claim = f"{fam.claims(path)}/{uuid.uuid4().hex}"
    _check_marker(spark, fam, path)
    if not _fs_create_text(spark, claim, _claim_payload(what)):
        raise RuntimeError(f"{fam.name}-user claim collision at {claim}")
    fs, jclaim, _ = _hadoop_fs(spark, claim)
    try:
        # re-check AFTER the claim is visible: a pass that took the
        # marker between our first check and our create must win (it
        # cannot have seen our claim) — back out
        _check_marker(spark, fam, path)
        yield
    finally:
        fs.delete(jclaim, False)


def _sweep_claims(
    spark: SparkSession, fam: _LockFamily, path: str, max_age_s: float
) -> list[dict]:
    """Delete every claim older than `max_age_s` seconds and return the
    swept records.  Refuses while the marker is held: a live pass never
    coexists with claims it should be refused by, so a marker here
    means a CRASHED pass, which needs its own adjudication first.  A
    claim deleted by its holder mid-sweep is simply gone (fs.delete on a
    missing path is a no-op False)."""
    _check_marker(spark, fam, path)
    swept = []
    for rec in _claim_files_info(spark, fam.claims(path)):
        if rec["age_s"] > max_age_s:
            fs, jclaim, _ = _hadoop_fs(spark, rec["path"])
            fs.delete(jclaim, False)
            swept.append(rec)
    return swept
