"""Driver-side ingest utilities (SURVEY §2.1 S1-S3, S6, S10, S14).

These are the acquisition operators the reference runs *before* the data
plane: FTP directory scans with regex selection, chunked HTTP downloads,
GitHub release/tag fetches, archive extraction, S3 uploads.  They stay
driver-side by design — they feed paths into ``spark.read`` — but the
selection/validation logic is the part with operator semantics, so it is
implemented and tested locally; network transports are gated behind
import-tries so the module works in offline environments.
"""

from __future__ import annotations

import fnmatch
import glob as _glob
import gzip
import os
import re
import shutil
import tarfile
import zipfile
from collections.abc import Iterable


# --- S1: directory scan + regex selection (util.py:222-241) -----------------

def select_by_regex(names: Iterable[str], pattern: str) -> list[str]:
    """The reference's FTP-listing filter (``re.match(selector)``,
    util.py:230-234): keep names matching the anchored regex."""
    rx = re.compile(pattern)
    return [n for n in names if rx.match(n)]


def scan_dir(path: str, pattern: str = r".*") -> list[str]:
    """Local-directory form of the S1 scan: list + regex-select, sorted
    for determinism."""
    return sorted(select_by_regex(os.listdir(path), pattern))


def ftp_select(host: str, cwd: str, pattern: str) -> list[str]:
    """True FTP form (network-gated).  `ftp.nlst('.')` + regex, exactly
    util.py:222-241."""
    from ftplib import FTP  # stdlib, but network use is environment-gated

    ftp = FTP(host)
    ftp.login()
    ftp.cwd(cwd)
    try:
        return select_by_regex(ftp.nlst("."), pattern)
    finally:
        ftp.quit()


# --- P3: glob + exactly-one validation (runcommand.py:476-485) --------------

def glob_exactly_one(pattern: str) -> str:
    matches = _glob.glob(pattern)
    if len(matches) != 1:
        raise ValueError(
            f"expected exactly one match for {pattern!r}, got {len(matches)}"
        )
    return matches[0]


# --- S2: chunked HTTP download (util.py:192-209) ----------------------------

def http_download(url: str, dest: str, chunk_size: int = 10 * 1024) -> str:
    """Stream URL → local file in 10 KiB chunks (util.py:192).  Gated on
    requests availability/network."""
    import urllib.request

    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    with urllib.request.urlopen(url) as resp, open(dest, "wb") as out:
        while True:
            chunk = resp.read(chunk_size)
            if not chunk:
                break
            out.write(chunk)
    return dest


# --- S5/S6: gzip decompress / compress (runcommand.py:52-60,114-131) --------

def gunzip_file(src: str, dest: str | None = None) -> str:
    """F3+S5: gunzip, stripping the .gz suffix like runcommand.py:53-55."""
    dest = dest or re.sub(r"\.gz$", "", src)
    with gzip.open(src, "rb") as fin, open(dest, "wb") as fout:
        shutil.copyfileobj(fin, fout)
    return dest


def gzip_dir(path: str, select: str = "*.ace") -> list[str]:
    """S6: compress matching files.  The reference fans out ``xargs -P
    ncpu gzip`` (runcommand.py:114-131); on the data plane Spark writes
    compressed partitions natively (``option('compression','gzip')``), so
    this driver-side version is only for artifact hygiene and is
    sequential on purpose."""
    out = []
    for name in sorted(os.listdir(path)):
        if fnmatch.fnmatch(name, select):
            src = os.path.join(path, name)
            dst = src + ".gz"
            with open(src, "rb") as fin, gzip.open(dst, "wb") as fout:
                shutil.copyfileobj(fin, fout)
            os.remove(src)
            out.append(dst)
    return out


# --- S14: archive extraction (runcommand.py:94-97, install.py:84-110) -------

def extract_archive(path: str, dest: str) -> str:
    """tar.gz / tar.xz / zip extraction with path-traversal protection."""
    os.makedirs(dest, exist_ok=True)
    if path.endswith(".zip"):
        with zipfile.ZipFile(path) as zf:
            for member in zf.namelist():
                if member.startswith(("/", "..")):
                    raise ValueError(f"unsafe archive member: {member}")
            zf.extractall(dest)
    else:
        with tarfile.open(path) as tf:
            tf.extractall(dest, filter="data")
    return dest


def make_archive(src_dir: str, dest: str) -> str:
    """S9 epilogue (runcommand.py:247-248): tar.xz the backup dir."""
    mode = "w:xz" if dest.endswith(".xz") else "w:gz"
    with tarfile.open(dest, mode) as tf:
        tf.add(src_dir, arcname=os.path.basename(src_dir))
    return dest


# --- S10: S3 sink (runcommand.py:463-498) -----------------------------------

def s3_upload(
    paths: list[str],
    bucket: str,
    prefix: str,
    endpoint_url: str | None = None,
) -> list[str]:
    """Upload artifacts to S3 (gated on boto3; on a cluster, tabular data
    goes straight to ``s3a://`` via df.write instead).  ``endpoint_url``
    lets tests point the client at a loopback S3 stub."""
    try:
        import boto3  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise RuntimeError("boto3 not available in this environment") from exc
    s3 = boto3.client("s3", endpoint_url=endpoint_url)
    keys = []
    for p in paths:
        key = f"{prefix.rstrip('/')}/{os.path.basename(p)}"
        s3.upload_file(p, bucket, key)
        keys.append(key)
    return keys


# --- S3 source: versioned-file fetch (github.py:60-143) ---------------------

def fetch_versioned_file(base_url: str, tag: str, path: str, dest: str) -> str:
    """Fetch a file at a release tag (the models-file fetch,
    github.py:130-143) from any raw-content host.  Network-gated."""
    url = f"{base_url.rstrip('/')}/{tag}/{path.lstrip('/')}"
    return http_download(url, dest)

