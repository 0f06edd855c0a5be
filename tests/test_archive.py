"""Archive member walkers (sources/archive.py): exact round-trips over
the deterministic builders, bomb caps and corrupt-container errors —
pytest-pinned (no SQL oracle: DuckDB has no archive reader, the
documented codec convention)."""

import zipfile

import pytest

from teste_carga_avro_vs_json_spark.sources import archive as ar


_MEMBERS = [
    ("docs/a.txt", b"alpha conteudo um"),
    ("docs/b.txt", b"beta conteudo dois" * 40),
    ("img/pix.bin", bytes(range(256)) * 3),
]


def test_zip_roundtrip_exact_and_deterministic():
    blob = ar.build_zip(_MEMBERS)
    assert blob == ar.build_zip(_MEMBERS)
    got = list(ar.iter_zip_members(blob))
    assert [(n, d) for n, d, e in got] == _MEMBERS
    assert all(e is None for _, _, e in got)


@pytest.mark.parametrize("gz", [False, True])
def test_tar_roundtrip_exact_and_deterministic(gz):
    blob = ar.build_tar(_MEMBERS, gz=gz)
    assert blob == ar.build_tar(_MEMBERS, gz=gz)
    got = list(ar.iter_tar_members(blob))
    assert [(n, d) for n, d, e in got] == _MEMBERS
    assert all(e is None for _, _, e in got)


def test_corrupt_containers_raise_archive_error():
    with pytest.raises(ar.ArchiveFormatError, match="zip"):
        list(ar.iter_zip_members(b"PK\x03\x04 garbage"))
    with pytest.raises(ar.ArchiveFormatError, match="tar"):
        list(ar.iter_tar_members(b"not a tar at all"))
    # gzip magic with trash behind it
    with pytest.raises(ar.ArchiveFormatError):
        list(ar.iter_tar_members(b"\x1f\x8b\x08trash"))


def test_member_bomb_cap_is_per_member():
    """An oversized member becomes an error ROW; siblings still
    extract (no-silent-caps: the drop is named, not silent)."""
    big = (b"x" * 2048, )[0]
    blob = ar.build_zip([("small.txt", b"ok"), ("big.bin", big)])
    got = list(ar.iter_zip_members(blob, max_member_bytes=1024))
    assert ("small.txt", b"ok", None) in got
    assert ("big.bin", None, "MemberTooLarge") in got
    tblob = ar.build_tar([("small.txt", b"ok"), ("big.bin", big)])
    tgot = list(ar.iter_tar_members(tblob, max_member_bytes=1024))
    assert ("small.txt", b"ok", None) in tgot
    assert ("big.bin", None, "MemberTooLarge") in tgot


def test_zip_lying_length_is_caught():
    """A central-directory entry that UNDER-declares the member size
    (the classic bomb trick) must not bypass the cap: zipfile's length
    enforcement turns it into an error row."""
    blob = bytearray(ar.build_zip([("a.bin", b"y" * 4096)]))
    # local header + central directory both carry uncompressed size;
    # rewrite the 4096s (little-endian) to 16
    import struct

    needle = struct.pack("<I", 4096)
    assert blob.count(needle) >= 2
    patched = bytes(blob).replace(needle, struct.pack("<I", 16))
    got = list(ar.iter_zip_members(patched, max_member_bytes=1024))
    assert got and got[0][1] is None and got[0][2] is not None
