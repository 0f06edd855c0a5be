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
of the reasons in ``REASONS``; anything else is dead package code and
fails the test. Private helpers are not listed: an allowed def reaches
them the way a root would.
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
    "open": "capability outside the paper flow and every gate, kept with "
            "its tests until it is deleted or given a root (ROADMAP #4)",
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
        "functions.portable:rand_text",
        "operators.flac_codec:encode_flac",
        "operators.jpeg_codec:dct2d",
        "operators.jpeg_codec:encode_jpeg",
        "operators.jpeg_codec:encode_jpeg_progressive",
        "operators.multimodal:build_mp3",
        "operators.multimodal:build_mp4_skeleton",
        "operators.multimodal:build_ogg",
        "operators.multimodal:encode_aiff_stdlib",
        "operators.multimodal:encode_avi_mjpeg",
        "operators.multimodal:encode_gif_stdlib",
        "operators.multimodal:encode_png_stdlib",
        "operators.multimodal:encode_tiff_stdlib",
        "operators.multimodal:synth_flac_media",
        "operators.multimodal:synth_jpeg_media",
        "operators.multimodal:synth_png_media",
        "operators.phash:synth_bmp_video",
        "operators.phash:synth_gif_video",
        "sources.archive:build_tar",
        "sources.archive:build_zip",
    ),
    "oracle": (
        "functions.avro_codec:encode_mensagem",
        "operators.unigram:unigram_learn_local",
    ),
    "double": (
        "functions.schema_registry:InMemorySchemaRegistry",
        "functions.schema_registry:SchemaRegistryServer",
    ),
    "pin": (
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
        "streaming.pipeline:metricas_stream_janela",
        "streaming.pipeline:with_live_metrics",
    ),
    "open": (
        "functions.avro_generic:decode_resolved",
        "functions.avro_ocf:read_ocf_any",
        "functions.schema_registry:HttpSchemaRegistry",
        "functions.schema_registry:IncompatibleSchemaError",
        "functions.schema_registry:can_read",
        "functions.schema_registry:canonical_schema",
        "functions.schema_registry:check_compatible",
        "functions.schema_registry:fingerprint_store",
        "functions.schema_registry:parsing_canonical_form",
        "functions.schema_registry:rabin_fingerprint",
        "functions.schema_registry:serialize_confluent",
        "functions.schema_registry:single_object_fingerprint_col",
        "functions.schema_registry:single_object_unwrap",
        "functions.schema_registry:single_object_wrap",
        "functions.schema_registry:single_object_wrap_col",
        "operators.dedup:bloom_build",
        "operators.dedup:bloom_dedup",
        "operators.dedup:incremental_dedup",
        "operators.dedup:shingles",
        "operators.lm:nll_cutoff",
        "operators.maintenance:cluster_by",
        "operators.maintenance:compact",
        "operators.maintenance:file_ranges",
        "operators.maintenance:snapshot_add_constraint",
        "operators.maintenance:snapshot_drop_constraint",
        "operators.maintenance:snapshot_mirror",
        "operators.maintenance:snapshot_vacuum",
        "operators.maintenance:snapshot_zorder_by",
        "operators.maintenance:zorder_by",
        "operators.multimodal:decode_audio",
        "operators.multimodal:decode_image",
        "operators.multimodal:decode_video_frames",
        "operators.multimodal:extract_features_bmp",
        "operators.multimodal:extract_features_png",
        "operators.multimodal:probe_audio_stream",
        "operators.multimodal:probe_image_stream",
        "operators.multimodal:probe_video_mp4",
        "operators.phash:audio_dhash",
        "operators.phash:audio_fingerprint64",
        "operators.phash:audio_neardup",
        "operators.phash:video_frame_hashes",
        "operators.phash:video_neardup",
        "operators.quality_model:score_with_model",
        "operators.quality_model:train_quality_model",
        "operators.skew:salted_broadcast_join",
        "operators.unigram:unigram_learn",
        "operators.unigram:unigram_tokenize",
        "pipelines:build_corpus_incremental",
        "session:register_views",
        "sources.archive:read_tar_members",
        "sources.archive:read_zip_members",
        "sources.archive:write_zip",
        "sources.compression:lz4_block_decompress",
        "sources.io_files:compact_parquet",
        "sources.io_files:read_avro_ocf_any",
        "sources.io_files:write_avro_ocf_any",
        "sources.kafka_wire:IdempotentProducer",
        "sources.kafka_wire:ProducerFailedError",
        "sources.kafka_wire:TransactionalProducer",
        "sources.kafka_wire:decode_record_batches",
        "sources.warc:gzip_member_offsets",
        "sources.warc:read_warc_payloads",
        "sources.warc:read_warc_pdfs",
        "streaming.pipeline:RowTargetStop",
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
