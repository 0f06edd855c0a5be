"""Package code must have a gate: every top-level def in the package is
reached from an entry point, or is named in ``ALLOWED`` with its reason.

The scan is a static AST walk. The roots are the driver contract
(``__spark_entry__.py`` → ``registry``), the CLI (``cli.py``,
``__main__.py``), ``bench.py``, ``tools/`` and ``perfbench/``. A def is
reached when a reached body (or a root file) names it, as a bare name,
an attribute, an ``import ... as`` alias or an identifier-shaped string
constant (``getattr``-style dispatch). Names are matched across modules,
so the scan over-approximates reachability and never flags a def that a
root can call. Module-level statements other than defs and assignments
(imports, ``if`` blocks) count as reached, like a root.

A def that only ``tests/`` reaches must be listed in ``ALLOWED`` under one
of the five reasons in ``REASONS`` (a fuzz-table decoder, a fixture
builder, an oracle reference, an in-package test double, or a
paper-flow pin); anything else is dead package code and fails the
test. There is no catch-all reason: a capability outside the paper
flow and every gate is deleted with its tests. Private helpers are not
listed: an allowed def reaches them the way a root would.

The suite-tier check rides along: every ``_SLOW_MODULES`` name in
``conftest.py`` must be an existing test module, since a stale name
silently marks nothing.
"""

from __future__ import annotations

import ast
import functools
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "teste_carga_avro_vs_json_spark"
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

REASONS = {
    "fuzz": "decoder in the tests/test_fuzz_decoders.py table",
    "fixture": "fixture builder that tests encode their inputs with",
    "oracle": "reference implementation a test compares a surviving path against",
    "double": "in-package test double",
    "pin": "paper-flow function, pinned by a test until a root calls it",
}

# reason -> "module:def" entries
ALLOWED: dict[str, tuple[str, ...]] = {
    "fuzz": (
        "operators.flac_codec:FlacFormatError",
        "operators.flac_codec:decode_flac",
        "operators.multimodal:decode_aiff_stdlib",
        "operators.multimodal:decode_avi_mjpeg",
        "operators.multimodal:decode_bmp_stdlib",
        "operators.multimodal:decode_png_stdlib",
        "operators.multimodal:decode_tiff_stdlib",
        "operators.multimodal:probe_image",
        "operators.multimodal:probe_mp3",
        "operators.multimodal:probe_mp4",
        "operators.multimodal:probe_ogg",
        "operators.phash:split_bmp_stream",
        "sources.archive:ArchiveFormatError",
        "sources.archive:iter_tar_members",
        "sources.archive:iter_zip_members",
    ),
    "fixture": (
        "operators.flac_codec:encode_flac",
        "operators.jpeg_codec:dct2d",
        "operators.jpeg_codec:encode_jpeg",
        "operators.jpeg_codec:encode_jpeg_progressive",
        "operators.multimodal:GRAY_PALETTE",
        "operators.multimodal:build_mp3",
        "operators.multimodal:build_mp4_skeleton",
        "operators.multimodal:build_ogg",
        "operators.multimodal:encode_aiff_stdlib",
        "operators.multimodal:encode_avi_mjpeg",
        "operators.multimodal:encode_gif_stdlib",
        "operators.multimodal:encode_png_stdlib",
        "operators.multimodal:encode_tiff_stdlib",
        "operators.multimodal:synth_jpeg_media",
        "operators.multimodal:synth_png_media",
        "operators.phash:synth_bmp_video",
        "sources.archive:build_tar",
        "sources.archive:build_zip",
    ),
    "oracle": (
        "functions.avro_codec:encode_mensagem",
    ),
    "double": (
        "functions.schema_registry:InMemorySchemaRegistry",
        "functions.schema_registry:SchemaRegistryServer",
    ),
    "pin": (
        # the reference registers MensagemCarga in Confluent SR
        # (PAPER.md:56-57); EngineConfig carries its URL and credentials
        "functions.schema_registry:HttpSchemaRegistry",
        "functions.schema_registry:serialize_confluent",
        "operators.metrics:relatorio_json",
        "operators.serde:payload_sizes",
        "sources.io_kafka:commit_offsets_wire",
        "sources.io_kafka:fetch_offsets",
        "sources.io_kafka:kafka_stream_read_options",
        "sources.io_kafka:kafka_tail_n_read_options",
        "sources.io_kafka:kafka_write_options",
        "sources.io_kafka:read_kafka_stream",
        "sources.io_kafka:read_kafka_tail_n",
        "sources.io_kafka:starting_offsets_tail_n",
        "sources.io_kafka:write_kafka",
        "sources.kafka_group:consume_transform_produce",
        # the producer consume_transform_produce drives
        "sources.kafka_wire:TransactionalProducer",
        "streaming.pipeline:metricas_stream_janela",
        # the reference consumer's row-target stop (SURVEY.md:149, O16)
        "streaming.pipeline:RowTargetStop",
        "streaming.pipeline:with_live_metrics",
    ),
}


def _root_files() -> list[pathlib.Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py",
             PKG / "registry.py", PKG / "cli.py", PKG / "__main__.py"]
    files += sorted((ROOT / "tools").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    return files


@functools.cache
def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text())


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and _IDENT.match(n.value):
            out.add(n.value)
    return out


def _aliases(tree: ast.Module) -> dict[str, str]:
    """``from m import a as b`` anywhere in a file: b -> a."""
    return {a.asname: a.name for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom) for a in n.names if a.asname}


@functools.cache
def package_defs() -> dict[str, tuple[set[str], int]]:
    """'module:def' -> (names its body references, line count)."""
    defs: dict[str, tuple[set[str], int]] = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        tree = _parse(path)
        alias = _aliases(tree)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                targets = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                tgts = node.targets if isinstance(node, ast.Assign) \
                    else [node.target]
                targets = [n.id for t in tgts for n in ast.walk(t)
                           if isinstance(n, ast.Name)
                           and not n.id.startswith("__")]
            else:
                continue
            refs = {alias.get(n, n) for n in _names(node)}
            lines = node.end_lineno - node.lineno + 1
            for t in targets:
                defs[f"{mod}:{t}"] = (refs - {t}, lines)
    return defs


@functools.cache
def _module_level_refs() -> frozenset[str]:
    out: set[str] = set()
    for path in PKG.rglob("*.py"):
        tree = _parse(path)
        alias = _aliases(tree)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef, ast.Assign, ast.AnnAssign,
                                 ast.Import, ast.ImportFrom)):
                continue
            out |= {alias.get(n, n) for n in _names(node)}
    return frozenset(out)


def reached(root_files: list[pathlib.Path], seeds=()) -> set[str]:
    """Package defs reachable from the names used in ``root_files`` and
    from the ``seeds`` defs ('module:def')."""
    defs = package_defs()
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.partition(":")[2], []).append(key)
    todo = set(_module_level_refs())
    for path in root_files:
        tree = _parse(path)
        alias = _aliases(tree)
        todo |= {alias.get(n, n) for n in _names(tree)}
    out = {k for k in seeds if k in defs}
    for k in out:
        todo |= defs[k][0]
    seen_names: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen_names:
            continue
        seen_names.add(name)
        for key in by_name.get(name, ()):
            if key not in out:
                out.add(key)
                todo |= defs[key][0]
    return out


def _allowed() -> list[str]:
    return [k for keys in ALLOWED.values() for k in keys]


def test_every_package_def_is_reached_or_allowed():
    defs = package_defs()
    live = reached(_root_files(), _allowed())
    loose = sorted(k for k in defs if k not in live)
    assert not loose, (
        f"{len(loose)} package defs are reached by no entry point "
        f"({sum(defs[k][1] for k in loose)} lines); delete them with "
        f"their tests, give them a root, or allowlist them with a reason:\n"
        + "\n".join(f"  {k} ({defs[k][1]} lines)" for k in loose))


def test_allowlist_is_current():
    """Each entry names an existing def that no root reaches and that a
    test calls; each reason is one of ``REASONS``; no entry repeats."""
    defs = package_defs()
    live = reached(_root_files())
    tested: set[str] = set()
    for path in sorted((ROOT / "tests").glob("test_*.py")):
        if path.name != pathlib.Path(__file__).name:
            tested |= _names(_parse(path))
    allowed = _allowed()
    assert set(ALLOWED) <= set(REASONS)
    assert len(allowed) == len(set(allowed))
    stale = sorted(k for k in allowed if k not in defs or k in live
                   or k.partition(":")[2] not in tested)
    assert not stale, f"allowlist entries that are gone, reached by a " \
                      f"root, or called by no test: {stale}"


def test_reasons_are_the_five_named_ones():
    """No catch-all reason: an unreached def needs one of these."""
    assert set(REASONS) == {"fuzz", "fixture", "oracle", "double", "pin"}


def test_slow_modules_name_existing_test_modules():
    from conftest import _SLOW_MODULES

    present = {p.stem for p in (ROOT / "tests").glob("test_*.py")}
    assert not _SLOW_MODULES - present, sorted(_SLOW_MODULES - present)
