"""ZIP and TAR(.gz) member walkers — the stdlib ``zipfile``/
``tarfile`` containers read one ``(member, payload)`` at a time, with
the decoder hardening rule (test_fuzz_decoders.py rows "zip" and
"tar"):

- per-member extraction is capped (``max_member_bytes``) against zip
  bombs, checked BEFORE reading the member;
- truncated/overlapping member entries raise
  :class:`ArchiveFormatError` (zipfile/tarfile's raw exceptions are
  wrapped at the entry).

Builder twins ``build_zip``/``build_tar`` emit DETERMINISTIC bytes
(fixed timestamps — never wall-clock, stored member order, zlib level
pinned), so round-trips pin exactly.
"""

from __future__ import annotations

import io
import struct
import tarfile
import zipfile
import zlib
from typing import Iterator


class ArchiveFormatError(ValueError):
    """Malformed or out-of-policy archive input."""


#: per-member inflate cap (bomb guard) — checked before extraction
DEFAULT_MAX_MEMBER_BYTES = 64 << 20
#: fixed DOS timestamp for deterministic zip bytes (1980-01-01, the
#: zip epoch — mtime zero is not representable in DOS time)
_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


# ------------------------------------------------------------ builders
def build_zip(members: list[tuple[str, bytes]]) -> bytes:
    """Deterministic ZIP: stored order, fixed timestamps, deflate
    level 9. Twin of the ``iter_zip_members`` walk."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=9) as z:
        for name, payload in members:
            info = zipfile.ZipInfo(name, date_time=_ZIP_EPOCH)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, payload)
    return buf.getvalue()


def build_tar(members: list[tuple[str, bytes]], gz: bool = False) -> bytes:
    """Deterministic TAR (optionally gzipped with mtime=0): fixed
    member mtimes/owners, stored order."""
    buf = io.BytesIO()
    with tarfile.open(
        fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
    ) as t:
        for name, payload in members:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            t.addfile(info, io.BytesIO(payload))
    data = buf.getvalue()
    if gz:
        import gzip

        # gzip OUTSIDE tarfile: GzipFile stamps wall-clock mtime and
        # its property is read-only — gzip.compress pins mtime=0
        data = gzip.compress(data, compresslevel=9, mtime=0)
    return data


# ------------------------------------------------------------ walkers
def iter_zip_members(
    payload: bytes, max_member_bytes: int = DEFAULT_MAX_MEMBER_BYTES
) -> Iterator[tuple[str, bytes | None, str | None]]:
    """(member name, payload | None, error | None) per file member.
    The bomb cap consults the central directory's DECLARED size before
    inflating; a lying entry (actual > declared) is caught by
    zipfile's own length enforcement and surfaces as an error row."""
    try:
        z = zipfile.ZipFile(io.BytesIO(payload))
        infos = z.infolist()
    except (zipfile.BadZipFile, ValueError, OSError, EOFError,
            zlib.error, struct.error) as e:
        raise ArchiveFormatError(f"bad zip container: {e}") from e
    for info in infos:
        if info.is_dir():
            continue
        if info.file_size > max_member_bytes:
            yield info.filename, None, "MemberTooLarge"
            continue
        try:
            with z.open(info) as f:
                data = f.read(max_member_bytes + 1)
            if len(data) > max_member_bytes:
                yield info.filename, None, "MemberTooLarge"
                continue
            yield info.filename, data, None
        except (zipfile.BadZipFile, ValueError, OSError, EOFError,
                NotImplementedError, RuntimeError, zlib.error,
                struct.error) as e:
            # zipfile leaks raw zlib/struct errors on corrupt deflate
            # streams and RuntimeError for encrypted/unsupported
            # members — member corruption is an error ROW, never a
            # raise
            yield info.filename, None, type(e).__name__


def iter_tar_members(
    payload: bytes, max_member_bytes: int = DEFAULT_MAX_MEMBER_BYTES
) -> Iterator[tuple[str, bytes | None, str | None]]:
    """TAR twin of :func:`iter_zip_members`; gzip autodetected by
    tarfile (mode "r:*")."""
    try:
        t = tarfile.open(fileobj=io.BytesIO(payload), mode="r:*")
    except (tarfile.TarError, ValueError, OSError, EOFError,
            zlib.error, struct.error) as e:
        raise ArchiveFormatError(f"bad tar container: {e}") from e
    with t:
        while True:
            try:
                info = t.next()
            except (tarfile.TarError, ValueError, OSError, EOFError,
                    zlib.error, struct.error) as e:
                # a corrupt entry poisons the rest of the stream (tar
                # has no central directory to resync from)
                yield "", None, type(e).__name__
                return
            if info is None:
                return
            if not info.isfile():
                continue
            if info.size > max_member_bytes:
                yield info.name, None, "MemberTooLarge"
                continue
            try:
                f = t.extractfile(info)
                data = f.read(max_member_bytes + 1) if f else b""
                if len(data) > max_member_bytes:
                    yield info.name, None, "MemberTooLarge"
                    continue
                yield info.name, data, None
            except (tarfile.TarError, ValueError, OSError, EOFError,
                    zlib.error, struct.error) as e:
                yield info.name, None, type(e).__name__
