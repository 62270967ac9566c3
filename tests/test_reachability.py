"""Every top-level package definition is reached from an entry point, or
is allowlisted with a reason.

The walk starts at the roots — registered queries, ``DreemPipeline``, the
corpus pipeline, the CLI, the Airflow spec, ``oracles.py`` and the files
outside the package that run it (``bench.py``, ``__spark_entry__.py``,
``perfbench/``, ``tools/``) — and follows names, attribute chains through
imported modules, and imports, transitively. Strings (docstrings
included) are not followed. Tests are not roots: code only a test calls
is dead unless the allowlist says why it stays."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "ideafast_etl_spark"

# package modules that are roots as a whole
_ROOT_MODULES = {
    f"{PKG}.__main__",
    f"{PKG}.oracles",
    f"{PKG}.pipeline.airflow_dag",
    f"{PKG}.pipeline.corpus",
}
_ROOT_DEFS = {(f"{PKG}.pipeline.dreem", "DreemPipeline")}
_EXTERNAL_ROOTS = ("bench.py", "__spark_entry__.py", "perfbench/*.py", "tools/*.py")

# "module/path.py:name" -> why it stays although no root reaches it: the
# reference capability SURVEY.md maps it to, the test that uses it as a
# twin, or the default-profile tests that still check it (its deletion,
# with theirs, is open work)
ALLOWED = {
    "functions/scalar.py:json_dot_path": "SURVEY X8",
    "functions/scalar.py:weartime_in_ms": "SURVEY X4",
    "operators/joins.py:lookup_join": "SURVEY J2/J3",
    "operators/multimodal.py:with_media_metadata": "SURVEY X10: sha2 over binaryFile content",
    "operators/projections.py:parse_group_filename": "SURVEY P5",
    "operators/projections.py:shape_ucam_patients": "SURVEY P3/P4",
    "sinks/archive.py:rm_local_data": "SURVEY K10",
    "sinks/archive.py:zip_folder": "SURVEY K9",
    "sinks/archive.py:run_scratch": "SURVEY K10",
    "sinks/upload.py:upload_group_archives": "SURVEY K8/K9",
    "sources/auth.py:JwtSessionManager": "SURVEY A1",
    "sources/config.py:apply_dmp_dataset": "SURVEY J6",
    "sources/config.py:load_job_config": "SURVEY S6",
    "sources/files.py:distributed_fetch": "SURVEY S2",
    "sources/files.py:read_binary_files": "SURVEY S2: read back via binaryFile",
    "sources/rest_datasource.py:RestDataSource": "SURVEY S1",
    "streaming/incremental.py:streaming_dedup": "SURVEY J1 (streaming form)",
    "operators/classifier.py:numpy_twin": "twin: test_classifier::test_bit_exact_numpy_twin",
    "operators/classifier.py:score_logreg": "twin: test_classifier::test_train_and_score_matches_composed",
    "operators/classifier.py:train_logreg": "twin: test_classifier::test_train_and_score_matches_composed",
    "operators/lm.py:score_kn_perplexity": "twin: test_lm::test_fused_equals_composed_addk_and_kn",
    "operators/lm.py:score_perplexity": "twin: test_lm::test_fused_equals_composed_addk_and_kn",
    "operators/lm.py:train_ngram_lm": "twin: test_lm::test_fused_equals_composed_addk_and_kn",
    "operators/similarity.py:embedding_near_dup_pairs": "twin: test_text_and_similarity::test_grid_near_dup_matches_brute_force",
    "functions/udtfs.py:register_udtfs": "open: test_scalar_functions::test_udtf_tokenize_matches_jvm_explode",
    "operators/bucketing.py:colocated_join": "open: test_bucketing::test_cobucketed_join_has_no_exchange",
    "operators/bucketing.py:write_bucketed": "open: test_bucketing (2 tests)",
    "operators/clustering.py:cluster_sizes": "open: test_clustering::test_cluster_sizes_surfaces_skew",
    "operators/dedup.py:simhash": "open: test_dedup_and_joins::test_simhash_similar_docs_close_hamming",
    "operators/dedup.py:with_minhash": "open: test_dedup_and_joins::test_minhash_identical_docs_share_signature",
    "operators/layout.py:optimize_table": (
        "open: test_optimize (5 tests), test_removed_layouts::"
        "test_symlinked_versioned_dir_base_is_refused; its state/manifest.py "
        "commit_dir layer: test_manifest_grace (3), test_manifest_fencing::"
        "test_two_writers_racing_commit_dir"
    ),
    "operators/metrics.py:observed": "open: test_metrics_and_fetch::test_observed_counts_without_extra_pass",
    "operators/multimodal.py:resample_audio": "open: test_multimodal (2 tests), test_flac (1)",
    "operators/multimodal.py:resize_images": "open: test_multimodal (1 test), test_jpeg (1)",
    "operators/multimodal.py:sample_video_frames": "open: test_multimodal (2 tests), test_avi (1)",
    "operators/mview.py:cdc_state": "open: test_mview_stats (2 tests)",
    "operators/skew.py:salted_sum": "open: test_skew_and_windows::test_salted_sum_matches_naive",
    "operators/stats.py:estimate_join_rows": "open: test_mview_stats::test_estimate_join_rows",
    "sources/jsonl.py:read_jsonl": "open: test_jsonl (3 tests)",
    "sources/jsonl.py:write_jsonl_shards": "open: test_jsonl::test_sharded_write_roundtrip_and_determinism",
    "tables.py:register_views": "open: test_time_travel::test_sql_over_registered_views",
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _display(module: str) -> str:
    rel = module[len(PKG) + 1 :].replace(".", "/") if module != PKG else ""
    return f"{rel or '__init__'}.py"


class _Module:
    def __init__(self, name: str, tree: ast.Module, is_pkg: bool):
        self.name = name
        self.package = name if is_pkg else name.rpartition(".")[0]
        self.defs: dict[str, list[ast.AST]] = {}
        self.code: list[ast.AST] = []  # module-level statements that run on import
        self.imports: dict[str, list[tuple[str, str | None]]] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs.setdefault(node.name, []).append(node)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
                for n in names:
                    self.defs.setdefault(n, []).append(node)
                if not names:
                    self.code.append(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                self.code.append(node)
        # every import, also function-local ones: local name -> targets
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self._bind(a.asname, a.name, None)
                    else:
                        top = a.name.partition(".")[0]
                        self._bind(top, top, None)
            elif isinstance(node, ast.ImportFrom):
                base = self._absolute(node.module, node.level)
                for a in node.names:
                    self._bind(a.asname or a.name, base, a.name)

    def _absolute(self, module: str | None, level: int) -> str:
        if not level:
            return module or ""
        base = self.package
        for _ in range(level - 1):
            base = base.rpartition(".")[0]
        return f"{base}.{module}" if module else base

    def _bind(self, local: str, module: str, attr: str | None) -> None:
        self.imports.setdefault(local, []).append((module, attr))


class _Graph:
    def __init__(self, modules: dict[str, _Module]):
        self.modules = modules

    def _target(self, module: str, attr: str | None):
        """An import of ``attr`` from ``module`` as ('mod', name) or
        ('def', module, name); None outside the package."""
        if attr is None:
            return ("mod", module) if module in self.modules else None
        if f"{module}.{attr}" in self.modules:
            return ("mod", f"{module}.{attr}")
        if module in self.modules:
            return ("def", module, attr)
        return None

    def _member(self, module: str, name: str, seen=frozenset()) -> list[tuple[str, str]]:
        """The definitions ``module.name`` denotes, following re-exports."""
        mod = self.modules[module]
        if name in mod.defs:
            return [(module, name)]
        if (module, name) in seen:
            return []
        out = []
        for imp in mod.imports.get(name, ()):
            t = self._target(*imp)
            if t and t[0] == "def":
                out += self._member(t[1], t[2], seen | {(module, name)})
        return out

    def _resolve(self, mod: _Module, expr: ast.AST) -> list[tuple]:
        """Targets an expression denotes: ('mod', m) or ('def', m, n)."""
        if isinstance(expr, ast.Name):
            if expr.id in mod.defs:
                return [("def", mod.name, expr.id)]
            out = []
            for imp in mod.imports.get(expr.id, ()):
                t = self._target(*imp)
                if t:
                    out.append(t)
            return out
        if isinstance(expr, ast.Attribute):
            out = []
            for t in self._resolve(mod, expr.value):
                if t[0] != "mod":
                    continue
                sub = f"{t[1]}.{expr.attr}"
                if sub in self.modules:
                    out.append(("mod", sub))
                else:
                    out.append(("def", t[1], expr.attr))
            return out
        return []

    def refs(self, mod: _Module, nodes) -> set[tuple[str, str]]:
        """Every package definition that ``nodes`` name."""
        found = set()
        for root in nodes:
            for node in ast.walk(root):
                if isinstance(node, (ast.Name, ast.Attribute)):
                    for t in self._resolve(mod, node):
                        if t[0] == "def" and t[1] in self.modules:
                            found.update(self._member(t[1], t[2]))
                elif isinstance(node, ast.ImportFrom):
                    for a in node.names:
                        t = self._target(mod._absolute(node.module, node.level), a.name)
                        if t and t[0] == "def":
                            found.update(self._member(t[1], t[2]))
        return found


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(node, "decorator_list", ())
    )


class Package:
    """The package's top-level definitions, keyed ``module/path.py:name``,
    and the references between them. Both arguments map a path relative
    to the repo root to its source."""

    def __init__(self, package_sources: dict[str, str], external_sources: dict[str, str]):
        modules = {}
        for rel, src in package_sources.items():
            path = ROOT / rel
            name = _module_name(path)
            modules[name] = _Module(name, ast.parse(src, rel), path.name == "__init__.py")
        self._graph = _Graph(modules)
        self._edges: dict[tuple[str, str], set[tuple[str, str]]] = {}
        self.defs = {
            (m.name, n)
            for m in modules.values()
            for n in m.defs
            if not (n.startswith("__") and n.endswith("__"))
        }
        self.roots = set(_ROOT_DEFS)
        for rel, src in external_sources.items():
            ext = _Module(f"<{rel}>", ast.parse(src, rel), False)
            self.roots |= self._graph.refs(ext, [*ext.code, *sum(ext.defs.values(), [])])
        for m in modules.values():
            self.roots |= self._graph.refs(m, m.code)
            self.roots |= {
                (m.name, n)
                for n, nodes in m.defs.items()
                if m.name in _ROOT_MODULES or any(map(_is_registered, nodes))
            }

    @staticmethod
    def key(item: tuple[str, str]) -> str:
        return f"{_display(item[0])}:{item[1]}"

    def item(self, key: str) -> tuple[str, str]:
        rel, name = key.split(":")
        return _module_name(ROOT / PKG / rel), name

    def reach(self, extra_roots=()) -> set[str]:
        """Keys of every definition the roots and ``extra_roots`` reach."""
        todo = self.roots | {self.item(k) for k in extra_roots}
        reached = set()
        while todo:
            item = todo.pop()
            if item in reached or item not in self.defs:
                continue
            reached.add(item)
            if item not in self._edges:
                mod = self._graph.modules[item[0]]
                self._edges[item] = self._graph.refs(mod, mod.defs[item[1]])
            todo |= self._edges[item]
        return {self.key(i) for i in reached}

    def unreached(self, extra_roots=()) -> set[str]:
        return {self.key(i) for i in self.defs} - self.reach(extra_roots)


def _sources() -> tuple[dict[str, str], dict[str, str]]:
    package = {
        p.relative_to(ROOT).as_posix(): p.read_text() for p in sorted((ROOT / PKG).rglob("*.py"))
    }
    external = {
        p.relative_to(ROOT).as_posix(): p.read_text()
        for pattern in _EXTERNAL_ROOTS
        for p in sorted(ROOT.glob(pattern))
    }
    return package, external


def test_every_definition_is_reached_or_allowlisted():
    assert sorted(Package(*_sources()).unreached(ALLOWED)) == []


def test_every_allowlist_entry_is_needed():
    """An entry whose definition is gone, that a root reaches, or that
    another entry already reaches is stale and goes."""
    pkg = Package(*_sources())
    keys = {pkg.key(i) for i in pkg.defs}
    stale = [
        k for k in ALLOWED if k not in keys or k in pkg.reach(set(ALLOWED) - {k})
    ]
    assert stale == []


def test_planted_unreferenced_definition_is_reported():
    package, external = _sources()
    package[f"{PKG}/operators/filters.py"] += "\n\ndef _planted(df):\n    return df\n"
    assert "operators/filters.py:_planted" in Package(package, external).unreached(ALLOWED)
