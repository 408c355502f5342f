"""Remote-source discovery: FTP listing classification, source-path
construction, and download operators (S1/S3/D1/D2/D4 in SURVEY.md §2.1).

The reference discovers databases by listing an Ensembl FTP server
(Base.pm:88-105) or an NFS mirror of it (Base.pm:123-144), then pulls
each database directory with Net::FTP gets (DownloadDatabase.pm:94-111)
or rsync (DownloadDatabase.pm:113-146). Spark-first, discovery is
driver-side (a listing is tiny) feeding a DataFrame of database names
into the mirror pipeline; the transfer happens once into the shared
store Spark reads from — executors never each re-download.

Network operators are testable offline: the `ls -l` classifier takes
listing lines (S1's split-on-whitespace + mode-char dispatch is pure),
and the rsync/FTP wrappers accept injected runners.
"""

from __future__ import annotations

import os
import subprocess
from dataclasses import dataclass


@dataclass
class FtpListing:
    """S1 output shape: {dirs, files} (Base.pm:88-105)."""

    dirs: list[str]
    files: list[str]


def classify_ls_lines(lines: list[str]) -> FtpListing:
    """S1: parse `ls -l` output — split each line on whitespace, take the
    last token as the name, classify dir-vs-file by the first char of
    the mode string (Base.pm:95-103). Symlinks/devices are neither."""
    dirs, files = [], []
    for line in lines:
        parts = line.split()
        if len(parts) < 2:
            continue
        mode, name = parts[0], parts[-1]
        if mode.startswith("d"):
            dirs.append(name)
        elif mode.startswith("-"):
            files.append(name)
    return FtpListing(dirs=dirs, files=files)


def ls_ftp_cwd(ftp) -> FtpListing:
    """S1 against a live connection: `ftp` is any object with a
    ``dir(callback)`` method (ftplib.FTP compatible; inject a fake in
    tests)."""
    lines: list[str] = []
    ftp.dir(lines.append)
    return classify_ls_lines(lines)


def base_ftp_path(release: int | str, division: str | None = None, prerelease: bool = False) -> str:
    """S3: `/pub/[.]release-N[/division]/mysql` — prerelease toggles the
    hidden dot-prefix (Base.pm:62-74; EG division variant Base.pm:123-144)."""
    rel = f".release-{release}" if prerelease else f"release-{release}"
    parts = ["/pub", rel] + ([division] if division else []) + ["mysql"]
    return "/".join(parts)


def nfs_ftp_site_dir(nfs_root: str, release: int | str, division: str | None = None, prerelease: bool = False) -> str:
    """S3 NFS twin: the same layout rooted at a mounted mirror."""
    return nfs_root.rstrip("/") + base_ftp_path(release, division, prerelease)


def rsync_download(
    source_url: str,
    target_dir: str,
    verbose: bool = False,
    runner=subprocess.run,
) -> None:
    """D2: `rsync --recursive --delete [--verbose|--quiet] <url> .` with
    a nonzero-exit throw (DownloadDatabase.pm:113-146; cmd at 133, rc
    check at 137-143). ``runner`` is injectable for tests."""
    flag = "--verbose" if verbose else "--quiet"
    cmd = ["rsync", "--recursive", "--delete", flag, source_url, target_dir]
    proc = runner(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError(
            f"rsync failed rc={proc.returncode}: {' '.join(cmd)}: {proc.stderr}"
        )


def ftp_download(ftp, db_dir: str, target_dir: str) -> list[str]:
    """D1: cwd into the database directory, RETR every file
    (DownloadDatabase.pm:94-111). ``ftp`` is ftplib-compatible."""
    ftp.cwd(db_dir)
    got = []
    for name in ftp.nlst():
        local = os.path.join(target_dir, name)
        with open(local, "wb") as f:
            ftp.retrbinary(f"RETR {name}", f.write)
        got.append(local)
    return got


def prepare_target_dir(path: str, attempt: int) -> None:
    """D4: idempotent dir (re)create for a download or load target —
    first attempt: an existing dir is an error (LoadFiles.pm:56-64); on
    retry: rmtree then recreate (DownloadDatabase.pm:172-186)."""
    import shutil

    if os.path.exists(path):
        if attempt == 0:
            raise FileExistsError(f"target already exists: {path}")
        shutil.rmtree(path)
    os.makedirs(path)
