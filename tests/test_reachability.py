"""Package code must have a gate: every top-level def in the package is
reached from an entry point, or is named in ``ALLOWED`` with its reason.

The scan is a static AST walk. The roots are the driver contract
(``__spark_entry__.py`` → ``registry``), the CLI (``cli.py``,
``__main__.py``), ``bench.py``, ``perfbench/`` and the gate and
paper-question tools in ``ROOT_TOOLS``. References are module-qualified:
a bare name resolves to a def of its own module or to what the file
imports under that name, and ``mod.attr`` (also ``pkg.mod.attr``)
resolves through the file's imports to ``mod``'s def ``attr``, following
re-exports. An identifier-shaped string constant (``getattr``-style
dispatch) resolves to a def of that name in the file's own module or in
a package module the file imports. A name that resolves to no package
def (a local, a builtin, an attribute of some object) reaches nothing.
Module-level statements other than defs, assignments and imports count
as reached, like a root.

A def that only ``tests/`` reaches must be listed in ``ALLOWED`` under one
of the five reasons in ``REASONS`` (a fuzz-table decoder, a fixture
builder, an oracle reference, an in-package test double, or a
paper-flow pin); anything else is dead package code and fails the
test. There is no catch-all reason: a capability outside the paper
flow and every gate is deleted with its tests. Private helpers are not
listed: an allowed def reaches them the way a root would.

The other tools (``stress*``, ``soak_*``) are consumers, not roots: they
may use only defs that a root reaches (plus the fixture builders and
test doubles they feed it with), so a stress tool cannot keep a
capability alive that no gate runs.

A ``DIAGNOSTIC`` bench lane is timed outside the headline and checked by
no gate, so it is a consumer as well. The lanes that are still the only
root of some package defs are named in ``PENDING_SOLE_ROOT_LANES``; the
set may only shrink.

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
BENCH = ROOT / "bench.py"
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# tools that are roots: the gates, the plan audits and the paper's own
# Avro-vs-JSON question; every other tool is a consumer
ROOT_TOOLS = ("check_correctness", "check_retired", "plan_audit",
              "capture_plans", "format_compare")

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
        "sources.archive:ArchiveFormatError",
        "sources.archive:iter_tar_members",
        "sources.archive:iter_zip_members",
    ),
    "fixture": (
        "functions.avro_generic:encode",
        "operators.flac_codec:encode_flac",
        # the token-space ExactSubstr tests feed it BPE tokens
        "operators.bpe:bpe_learn",
        "operators.bpe:bpe_tokenize",
        "operators.jpeg_codec:dct2d",
        "operators.jpeg_codec:encode_jpeg",
        "operators.jpeg_codec:encode_jpeg_progressive",
        "operators.multimodal:build_mp3",
        "operators.multimodal:build_mp4_skeleton",
        "operators.multimodal:build_ogg",
        "operators.multimodal:encode_aiff_stdlib",
        "operators.multimodal:encode_avi_mjpeg",
        "operators.multimodal:encode_bmp_stdlib",
        "operators.multimodal:encode_png_stdlib",
        "operators.multimodal:encode_tiff_stdlib",
        "operators.similarity:pq_codebooks",
        "sources.archive:build_tar",
        "sources.archive:build_zip",
    ),
    "oracle": (
        "functions.avro_codec:encode_mensagem",
        "functions.avro_generic:decode",
    ),
    "double": (
        "functions.schema_registry:InMemorySchemaRegistry",
        "functions.schema_registry:SchemaRegistryServer",
        # the in-process Kafka broker the wire tests and soak tools run on
        "sources.kafka_wire:StubBroker",
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


# DIAGNOSTIC bench lanes that are still the only root of some package
# defs: a lane leaves when its defs gain a gate or are deleted with it,
# and no lane joins
PENDING_SOLE_ROOT_LANES = ("avro_generic_e2e", "semantic_dedup")


def _root_files() -> list[pathlib.Path]:
    files = [ROOT / "__spark_entry__.py", BENCH,
             PKG / "registry.py", PKG / "cli.py", PKG / "__main__.py"]
    files += [ROOT / "tools" / f"{t}.py" for t in ROOT_TOOLS]
    files += sorted((ROOT / "perfbench").glob("*.py"))
    return files


def _consumer_tools() -> list[pathlib.Path]:
    return sorted(p for p in (ROOT / "tools").glob("*.py")
                  if p.stem not in ROOT_TOOLS)


@functools.cache
def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text())


def _module_of(path: pathlib.Path) -> str | None:
    """Package-relative dotted name ('' for the package itself), or None
    for a file outside the package."""
    if PKG not in path.parents:
        return None
    parts = path.relative_to(PKG).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


@functools.cache
def _modules() -> dict[str, pathlib.Path]:
    return {_module_of(p): p for p in sorted(PKG.rglob("*.py"))}


def _sub(mod: str, name: str) -> str:
    return f"{mod}.{name}" if mod else name


def _from_module(node: ast.ImportFrom, here: str | None) -> str | None:
    """The package module an ``ImportFrom`` reads, or None."""
    if node.level:
        base = here.split(".") if here else []
        if _modules()[here].name != "__init__.py":
            base = base[:-1]
        base = base[:len(base) - node.level + 1]
        return ".".join(base + (node.module.split(".") if node.module
                                else []))
    name = node.module or ""
    if name == PKG.name:
        return ""
    if name.startswith(PKG.name + "."):
        return name[len(PKG.name) + 1:]
    return None


@functools.cache
def _bindings(path: pathlib.Path) -> dict[str, frozenset[tuple]]:
    """Every import anywhere in a file: local name -> targets, each
    ``("mod", m)`` or ``("def", m, name)``."""
    return _tree_bindings(_parse(path), _module_of(path))


def _tree_bindings(tree: ast.AST,
                   here: str | None) -> dict[str, frozenset[tuple]]:
    out: dict[str, set[tuple]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name != PKG.name and not a.name.startswith(PKG.name + "."):
                    continue
                if a.asname:
                    out.setdefault(a.asname, set()).add(
                        ("mod", a.name.partition(".")[2]))
                else:
                    out.setdefault(PKG.name, set()).add(("mod", ""))
        elif isinstance(node, ast.ImportFrom):
            mod = _from_module(node, here)
            if mod is None:
                continue
            for a in node.names:
                sub = _sub(mod, a.name)
                target = ("mod", sub) if sub in _modules() \
                    else ("def", mod, a.name)
                out.setdefault(a.asname or a.name, set()).add(target)
    return {k: frozenset(v) for k, v in out.items()}


def _resolve(mod: str, name: str, seen=None) -> set[str]:
    """'module:def' keys that ``mod.name`` denotes, through re-exports."""
    key = f"{mod}:{name}"
    if key in package_defs():
        return {key}
    seen = seen or set()
    if key in seen or mod not in _modules():
        return set()
    seen.add(key)
    out: set[str] = set()
    for t in _bindings(_modules()[mod]).get(name, ()):
        if t[0] == "def":
            out |= _resolve(t[1], t[2], seen)
    return out


def _resolve_attrs(mod: str, attrs: list[str]) -> set[str]:
    """The def that ``mod.a.b...`` denotes, descending through submodules
    and through modules that ``mod`` imports under the name ``a``."""
    if not attrs:
        return set()
    sub = _sub(mod, attrs[0])
    if sub in _modules():
        return _resolve_attrs(sub, attrs[1:])
    out = _resolve(mod, attrs[0])
    for t in _bindings(_modules()[mod]).get(attrs[0], ()) \
            if mod in _modules() else ():
        if t[0] == "mod":
            out |= _resolve_attrs(t[1], attrs[1:])
    return out


def _chain(node: ast.Attribute) -> tuple[str, list[str]] | None:
    attrs: list[str] = []
    while isinstance(node, ast.Attribute):
        attrs.append(node.attr)
        node = node.value
    return (node.id, attrs[::-1]) if isinstance(node, ast.Name) else None


def _refs(node: ast.AST, path: pathlib.Path, binds=None) -> set[str]:
    """Package defs that the code under ``node`` in ``path`` names, with
    names bound by ``binds`` (default: every import in ``path``)."""
    here = _module_of(path)
    binds = _bindings(path) if binds is None else binds
    imported = {t[1] for ts in binds.values() for t in ts}
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            for t in binds.get(n.id, ()):
                if t[0] == "def":
                    out |= _resolve(t[1], t[2])
            if here is not None:
                out |= _resolve(here, n.id)
        elif isinstance(n, ast.Attribute):
            chain = _chain(n)
            if chain is None:
                continue
            for t in binds.get(chain[0], ()):
                if t[0] == "mod":
                    out |= _resolve_attrs(t[1], chain[1])
        elif isinstance(n, ast.ImportFrom):
            for a in n.names:
                for t in binds.get(a.asname or a.name, ()):
                    if t[0] == "def":
                        out |= _resolve(t[1], t[2])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and _IDENT.match(n.value):
            for mod in imported | ({here} if here is not None else set()):
                out |= _resolve(mod, n.value)
    return out


@functools.cache
def package_defs() -> dict[str, tuple[ast.AST, pathlib.Path, int]]:
    """'module:def' -> (its node, its file, line count)."""
    defs: dict[str, tuple[ast.AST, pathlib.Path, int]] = {}
    for mod, path in _modules().items():
        for node in _parse(path).body:
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
            lines = node.end_lineno - node.lineno + 1
            for t in targets:
                defs[f"{mod}:{t}"] = (node, path, lines)
    return defs


@functools.cache
def _def_refs(key: str) -> frozenset[str]:
    node, path, _ = package_defs()[key]
    return frozenset(_refs(node, path) - {key})


@functools.cache
def _module_level_refs() -> frozenset[str]:
    out: set[str] = set()
    for path in _modules().values():
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef, ast.Assign, ast.AnnAssign,
                                 ast.Import, ast.ImportFrom)):
                continue
            out |= _refs(node, path)
    return frozenset(out)


def _file_refs(path: pathlib.Path) -> set[str]:
    return _refs(_parse(path), path)


def reached(root_files: list[pathlib.Path], seeds=()) -> set[str]:
    """Package defs reachable from the code in ``root_files`` and from
    the ``seeds`` defs ('module:def')."""
    todo = set(_module_level_refs())
    for path in root_files:
        todo |= _file_refs(path)
    todo |= {k for k in seeds if k in package_defs()}
    out: set[str] = set()
    while todo:
        key = todo.pop()
        if key not in out:
            out.add(key)
            todo |= _def_refs(key) - out
    return out


def _allowed() -> list[str]:
    return [k for keys in ALLOWED.values() for k in keys]


def test_every_package_def_is_reached_or_allowed():
    defs = package_defs()
    live = reached(_root_files(), _allowed())
    loose = sorted(k for k in defs if k not in live)
    assert not loose, (
        f"{len(loose)} package defs are reached by no entry point "
        f"({sum(defs[k][2] for k in loose)} lines); delete them with "
        f"their tests, give them a root, or allowlist them with a reason:\n"
        + "\n".join(f"  {k} ({defs[k][2]} lines)" for k in loose))


def test_consumer_tools_use_only_root_reached_defs():
    """A stress or soak tool exercises what a root runs; it is no root of
    its own, so the defs it names must be reached without it. It may
    build its inputs with a fixture builder and run against a test
    double, as a test would."""
    live = reached(_root_files(), ALLOWED["fixture"] + ALLOWED["double"])
    stray = sorted(f"{p.name}: {k}" for p in _consumer_tools()
                   for k in _file_refs(p) if k not in live)
    assert not stray, "consumer tools use defs no root reaches:\n" \
        + "\n".join(f"  {s}" for s in stray)


def test_allowlist_is_current():
    """Each entry names an existing def that no root reaches and that a
    test calls; each reason is one of ``REASONS``; no entry repeats."""
    defs = package_defs()
    live = reached(_root_files())
    tested: set[str] = set()
    for path in sorted((ROOT / "tests").glob("test_*.py")):
        if path.name != pathlib.Path(__file__).name:
            tested |= _file_refs(path)
    allowed = _allowed()
    assert set(ALLOWED) <= set(REASONS)
    assert len(allowed) == len(set(allowed))
    stale = sorted(k for k in allowed if k not in defs or k in live
                   or k not in tested)
    assert not stale, f"allowlist entries that are gone, reached by a " \
                      f"root, or called by no test: {stale}"


def _bench_lanes() -> tuple[frozenset[str], ast.FunctionDef,
                            dict[str, ast.FunctionDef]]:
    """bench.py's ``DIAGNOSTIC`` names, its ``lanes()`` def, and the lane
    table: lane name -> the nested ``w_*`` def that runs it."""
    tree = _parse(BENCH)
    diag = next(
        ast.literal_eval(n.value.args[0]) for n in tree.body
        if isinstance(n, ast.Assign)
        and any(getattr(t, "id", None) == "DIAGNOSTIC" for t in n.targets))
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "lanes")
    bodies = {n.name: n for n in fn.body if isinstance(n, ast.FunctionDef)
              and n.name.startswith("w_")}
    table = next(n.value for n in fn.body if isinstance(n, ast.Return))
    lanes = {k.value: bodies[v.id]
             for k, v in zip(table.keys, table.values)
             if isinstance(v, ast.Name) and v.id in bodies}
    return frozenset(diag), fn, lanes


def test_diagnostic_lanes_root_nothing_but_the_pending_ones():
    """Cut every ``DIAGNOSTIC`` lane body out of bench.py; what the roots
    and ``ALLOWED`` then reach is the live set. The rest of bench.py binds
    names through its own imports only, so a lane's name string does not
    resolve through a cut body's import. A diagnostic lane whose body
    reaches defs outside the live set is their only root."""
    diag, lanes_fn, lanes = _bench_lanes()
    assert diag <= set(lanes), sorted(diag - set(lanes))
    cut = {lanes[d] for d in diag}
    rest = ast.Module(
        body=[n for n in _parse(BENCH).body if n is not lanes_fn]
        + [n for n in lanes_fn.body if n not in cut],
        type_ignores=[])
    live = reached([f for f in _root_files() if f != BENCH],
                   set(_allowed()) | _refs(rest, BENCH,
                                           _tree_bindings(rest, None)))
    defs = package_defs()
    sole = {d: sorted(reached([], _refs(lanes[d], BENCH)) - live)
            for d in sorted(diag)}
    sole = {d: keys for d, keys in sole.items() if keys}
    assert set(sole) == set(PENDING_SOLE_ROOT_LANES), (
        f"diagnostic lanes that are the only root of package defs: "
        f"{sorted(sole)}, pending: {sorted(PENDING_SOLE_ROOT_LANES)}\n"
        + "\n".join(
            f"  {d} ({len(keys)} defs, "
            f"{sum(defs[k][2] for k in keys)} lines): " + ", ".join(keys)
            for d, keys in sole.items()))


def test_reasons_are_the_five_named_ones():
    """No catch-all reason: an unreached def needs one of these."""
    assert set(REASONS) == {"fuzz", "fixture", "oracle", "double", "pin"}


def test_slow_modules_name_existing_test_modules():
    from conftest import _SLOW_MODULES

    present = {p.stem for p in (ROOT / "tests").glob("test_*.py")}
    assert not _SLOW_MODULES - present, sorted(_SLOW_MODULES - present)
