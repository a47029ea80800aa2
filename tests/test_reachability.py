"""Every top-level engine definition is reached from a root or is
allowlisted with a reason.

The scan is static: it parses every ``engine/`` module and follows
names transitively from the roots, the code that runs the engine
outside tests:

- ``__spark_entry__.py``, ``bench.py`` and every ``.py`` file under
  ``jobs/``, ``scripts/`` and ``perfbench/`` (its own tests excluded);
- engine module-level statements that are not definitions or imports.

A definition is a top-level ``def``, ``class`` or assigned name of an
engine module. A reached definition reaches what its body names:
plain names resolved through the module's own definitions and
imports, ``module.attr`` chains, ``from engine... import name`` at any
depth, and string constants equal to a definition name of a module the
file imports (``getattr(agent, "conversation_wellformed")``).
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Starting points reached only from tests, kept on purpose, with what
# they reach. Key: "module:name"; value: the one-line reason.
_ORACLE = "kernel parity oracle: tests hold the native Spark column to it"
_SINK = "the paper's Iceberg MERGE sink; waits for the runtime jar"
_LLM = "the reference's T11 LLM stage, outside the gate"
_TWIN = "native twin behind COVERAGE A8/A9/W4/SO1; tests hold it to the kernel"
_STATE = "persisted state of the oracled dedup_incremental"

ALLOWLIST = {
    "engine.kernel.bpe:bpe_merges": _ORACLE,
    "engine.kernel.bpe:tokenize_word": _ORACLE,
    "engine.kernel.scoring:ats_suggestions": _ORACLE,
    "engine.kernel.scoring:ats_summary": _ORACLE,
    "engine.kernel.scoring:career_progression": _ORACLE,
    "engine.kernel.scoring:fit_fallback": _ORACLE,
    "engine.kernel.scoring:harvest_skills": _ORACLE,
    "engine.kernel.scoring:hiring_recommendation": _ORACLE,
    "engine.kernel.scoring:overall_candidate_score": _ORACLE,
    "engine.kernel.scoring:overall_validation_score": _ORACLE,
    "engine.kernel.scoring:parse_candidate_fit": _ORACLE,
    "engine.kernel.scoring:score_bucket": _ORACLE,
    "engine.kernel.scoring:skills_match": _ORACLE,
    "engine.kernel.validators:check_amount": _ORACLE,
    "engine.kernel.validators:check_currency": _ORACLE,
    "engine.kernel.validators:check_invoice_date": _ORACLE,
    "engine.kernel.validators:check_invoice_number": _ORACLE,
    "engine.kernel.validators:red_flags": _ORACLE,
    "engine.kernel.validators:total_experience_years": _ORACLE,
    "engine.spark.iceberg:iceberg_available": _SINK,
    "engine.spark.iceberg:ensure_tables": _SINK,
    "engine.spark.iceberg:merge_results": _SINK,
    "engine.spark.iceberg:commit_checkpoint": _SINK,
    "engine.spark.llm:llm_enrich": _LLM,
    "engine.spark.llm_client:http_client_factory": _LLM,
    "engine.spark.validation:candidate_analysis": _TWIN,
    "engine.spark.validation:harvest_resume_skills": _TWIN,
    "engine.spark.analytics:build_dedup_state": _STATE,
    "engine.spark.analytics:update_dedup_state": _STATE,
    "engine.spark.bpe:load_bpe_merges": "persists the merge table bpe_tokenize applies",
    "engine.spark.bpe:save_bpe_merges": "persists the merge table bpe_tokenize applies",
    "engine.spark.monitor:metrics_summary": "run-metrics reader the layer ledger gives a caller",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _root_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("jobs", "scripts", "perfbench"):
        files += sorted(
            p for p in (ROOT / d).rglob("*.py") if "tests" not in p.parts
        )
    return files


def _top_level(body: list[ast.stmt]):
    """Top-level statements, looking through module-level ``if`` and
    ``try`` blocks (``if TYPE_CHECKING:`` imports, optional defs)."""
    for node in body:
        if isinstance(node, ast.If):
            yield from _top_level(node.body)
            yield from _top_level(node.orelse)
        elif isinstance(node, ast.Try):
            for block in (node.body, node.orelse, node.finalbody):
                yield from _top_level(block)
            for h in node.handlers:
                yield from _top_level(h.body)
        else:
            yield node


def _own_imports(node: ast.AST):
    """Import statements of ``node``'s own scope, not of the functions
    nested in it."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.Import, ast.ImportFrom)):
            yield child
        elif not isinstance(
            child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            yield from _own_imports(child)


_NOT_ROOT = (
    ast.Import, ast.ImportFrom, ast.FunctionDef, ast.AsyncFunctionDef,
    ast.ClassDef, ast.Assign, ast.AnnAssign,
)


def _def_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [node.name]
    elif isinstance(node, ast.Assign):
        names = [
            n.id for t in node.targets for n in ast.walk(t)
            if isinstance(n, ast.Name)
        ]
    elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        names = [node.target.id]
    else:
        return []
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


class _Scan:
    def __init__(self) -> None:
        self.modules: dict[str, ast.Module] = {}
        for path in sorted((ROOT / "engine").rglob("*.py")):
            self.modules[_module_name(path)] = ast.parse(path.read_text())
        # (module, name) -> defining node, for engine definitions
        self.defs: dict[tuple[str, str], ast.stmt] = {}
        # module -> local name -> ("mod", module) | ("ref", module, name)
        self.binds: dict[str, dict[str, tuple]] = {}
        for mod, tree in self.modules.items():
            self.binds[mod] = self._bindings(_top_level(tree.body))
            for node in _top_level(tree.body):
                for name in _def_names(node):
                    self.defs[(mod, name)] = node
                    self.binds[mod][name] = ("ref", mod, name)
        self._def_refs: dict[tuple[str, str], set[tuple[str, str]]] = {}

    def _bindings(self, stmts) -> dict[str, tuple]:
        """Names that import statements bind: to a module, or to a name
        in one. The engine has no relative imports."""
        out: dict[str, tuple] = {}
        for node in stmts:
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        out[a.asname] = ("mod", a.name)
                    else:
                        top = a.name.split(".")[0]
                        out[top] = ("mod", top)
            elif isinstance(node, ast.ImportFrom) and not node.level:
                for a in node.names:
                    full = f"{node.module}.{a.name}"
                    out[a.asname or a.name] = (
                        ("mod", full) if full in self.modules
                        else ("ref", node.module, a.name)
                    )
        return out

    def _resolve(self, mod: str, name: str) -> tuple[str, str] | None:
        """Follow re-exports to the defining (module, name)."""
        for _ in range(10):
            if (mod, name) in self.defs:
                return mod, name
            b = self.binds.get(mod, {}).get(name)
            if b is None or b[0] != "ref":
                return None
            mod, name = b[1], b[2]
        return None

    def refs(self, node: ast.AST, binds: dict[str, tuple]) -> set[tuple[str, str]]:
        """Engine definitions that ``node`` names, with ``binds`` the
        names bound around it. Imports bind per function scope, so
        ``from engine.spark import ats as A`` in one function does not
        rebind ``A`` in another."""
        out: set[tuple[str, str]] = set()

        def add(mod: str, name: str) -> None:
            hit = self._resolve(mod, name)
            if hit:
                out.add(hit)

        def visit(n: ast.AST, scope: dict[str, tuple]) -> None:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scope = {**scope, **self._bindings(_own_imports(n))}
            if isinstance(n, ast.ImportFrom) and n.module and not n.level:
                for a in n.names:
                    add(n.module, a.name)
            elif isinstance(n, ast.Name):
                b = scope.get(n.id)
                if b and b[0] == "ref":
                    add(b[1], b[2])
            elif isinstance(n, ast.Attribute):
                chain = []
                cur: ast.AST = n
                while isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                b = scope.get(cur.id) if isinstance(cur, ast.Name) else None
                if b and b[0] == "mod":
                    mod = b[1]
                    for attr in reversed(chain):
                        if f"{mod}.{attr}" not in self.modules:
                            add(mod, attr)
                            break
                        mod = f"{mod}.{attr}"
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if n.value.isidentifier():
                    for b in scope.values():
                        if b[0] == "mod":
                            add(b[1], n.value)
            for child in ast.iter_child_nodes(n):
                visit(child, scope)

        visit(node, {**binds, **self._bindings(_own_imports(node))})
        return out

    def roots(self) -> set[tuple[str, str]]:
        out: set[tuple[str, str]] = set()
        for path in _root_files():
            tree = ast.parse(path.read_text())
            out |= self.refs(tree, {})
        for mod, tree in self.modules.items():
            for node in _top_level(tree.body):
                if not isinstance(node, _NOT_ROOT):
                    out |= self.refs(node, self.binds[mod])
        return out

    def closure(self, start: set[tuple[str, str]]) -> set[tuple[str, str]]:
        """Every definition reached from ``start``, ``start`` included."""
        todo, seen = set(start), set()
        while todo:
            key = todo.pop()
            if key not in seen:
                seen.add(key)
                if key not in self._def_refs:
                    self._def_refs[key] = self.refs(self.defs[key], self.binds[key[0]])
                todo |= self._def_refs[key] - seen
        return seen


def _key(key: tuple[str, str]) -> str:
    return f"{key[0]}:{key[1]}"


def test_every_engine_definition_is_reached_or_allowlisted():
    scan = _Scan()
    allowed = {k for k in scan.defs if _key(k) in ALLOWLIST}
    missing = sorted(set(ALLOWLIST) - {_key(k) for k in scan.defs})
    assert not missing, f"allowlisted but no longer defined: {missing}"
    roots = scan.roots()
    live = scan.closure(roots)
    stray = sorted(_key(k) for k in set(scan.defs) - scan.closure(roots | allowed))
    assert not stray, (
        "engine definitions that no entry, job, bench or script reaches "
        f"(wire them, delete them or allowlist them with a reason): {stray}"
    )
    reached = sorted(_key(k) for k in allowed & live)
    assert not reached, f"allowlisted but now reached (drop the entry): {reached}"
    # each entry is a starting point: one reached from the others is noise
    redundant = sorted(
        _key(k) for k in allowed if k in scan.closure(roots | (allowed - {k}))
    )
    assert not redundant, f"reached from other allowlist entries: {redundant}"

