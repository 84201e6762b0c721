"""Rule registry: builtins + installed YAML, duplicate-ID refusal,
trust allowlist, orphan-child validation.

Reference: src/registry/core.rs:121-164 (duplicate refusal), :229-239
(trust), src/registry/builtin.rs:7-14 (builtins),
src/registry/installed.rs:67-149 (scan *.fp.yaml),
src/lib.rs:976-1010 (E_ORPHAN_CHILD).

All driver-side: rules load, validate, and compile at the driver; the
compiled expressions ship to executors inside the Catalyst plan (the
broadcast-lookup-structure pattern — no data-plane join).
"""

from __future__ import annotations

import fnmatch
from pathlib import Path

from .model import FingerprintDefinition, make_clause
from .parser import parse_yaml
from .validate import validate_definition


class RegistryError(ValueError):
    def __init__(self, code: str, message: str):
        super().__init__(f"{code}: {message}")
        self.code = code


def builtin_rules() -> list[FingerprintDefinition]:
    """The web-corpus spam templates the quality-filter pipeline uses
    (the analog of builtin.rs, whose csv.v0/xlsx.v0/pdf.v0/markdown.v0
    format-sanity rules check formats this engine refuses)."""
    return [
        FingerprintDefinition(
            fingerprint_id="spam_pharma.v1",
            format="html",
            assertions=(
                make_clause(
                    "text_regex", "spam_phrase",
                    {"pattern": r"(?i)(buy cheap pills|no prescription)"},
                ),
            ),
            source="builtin",
            source_hash="md5:builtin-spam-pharma-v1",
        ),
        FingerprintDefinition(
            fingerprint_id="spam_casino.v1",
            format="html",
            assertions=(
                make_clause(
                    "text_regex", "spam_phrase",
                    {"pattern": r"(?i)(casino bonus|free spins|win big jackpot)"},
                ),
            ),
            source="builtin",
            source_hash="md5:builtin-spam-casino-v1",
        ),
        FingerprintDefinition(
            fingerprint_id="spam_replica.v1",
            format="html",
            assertions=(
                make_clause(
                    "text_regex", "spam_phrase",
                    {"pattern": r"(?i)replica watches"},
                ),
            ),
            source="builtin",
            source_hash="md5:builtin-spam-replica-v1",
        ),
        FingerprintDefinition(
            fingerprint_id="spam_diet.v1",
            format="html",
            assertions=(
                make_clause(
                    "text_regex", "spam_phrase",
                    {"pattern": r"(?i)(weight loss miracle|doctors hate this)"},
                ),
            ),
            source="builtin",
            source_hash="md5:builtin-spam-diet-v1",
        ),
        # generic spam markers as a child rule family example
        FingerprintDefinition(
            fingerprint_id="spam_cta.v1",
            format="html",
            parent="spam_pharma.v1",
            assertions=(
                make_clause(
                    "text_contains", "cta", {"value": "click here now"}
                ),
            ),
            source="builtin",
            source_hash="md5:builtin-spam-cta-v1",
        ),
    ]


class Registry:
    """Ordered rule registry with duplicate/trust/orphan validation."""

    def __init__(self, rules: list[FingerprintDefinition] | None = None):
        self._rules: dict[str, FingerprintDefinition] = {}
        self._order: list[str] = []
        for r in rules or []:
            self.register(r)

    def register(self, d: FingerprintDefinition) -> None:
        validate_definition(d)
        if d.fingerprint_id in self._rules:
            raise RegistryError(
                "E_DUPLICATE_FP_ID",
                f"duplicate fingerprint id {d.fingerprint_id} "
                "(registry/core.rs:121-164)",
            )
        self._rules[d.fingerprint_id] = d
        self._order.append(d.fingerprint_id)

    def get(self, fp_id: str) -> FingerprintDefinition:
        if fp_id not in self._rules:
            raise RegistryError("E_UNKNOWN_FP", f"unknown fingerprint id {fp_id}")
        return self._rules[fp_id]

    def list(self) -> list[FingerprintDefinition]:
        """Deterministic listing by (id, source) (core.rs:110-118)."""
        return sorted(self._rules.values(), key=lambda d: (d.fingerprint_id, d.source))

    def resolve(self, fp_ids: list[str]) -> list[FingerprintDefinition]:
        """Resolve requested ids in CLI order; E_UNKNOWN_FP on miss;
        E_ORPHAN_CHILD when a child's parent is not requested
        (lib.rs:759-768, 976-1010)."""
        defs = [self.get(i) for i in fp_ids]
        requested = set(fp_ids)
        for d in defs:
            if d.parent is not None and d.parent not in requested:
                raise RegistryError(
                    "E_ORPHAN_CHILD",
                    f"child {d.fingerprint_id} requested without parent {d.parent}",
                )
        return defs

    @staticmethod
    def load_dir(
        path: str | Path,
        trusted_globs: list[str] | None = None,
    ) -> "Registry":
        """Scan a directory for *.fp.yaml (installed.rs:67-149). Builtin
        rules are always trusted; installed files must match a trust glob
        (core.rs:229-239) when a trust list is supplied. A path that is
        not a directory is refused (E_BAD_INPUT), so a mistyped one
        cannot run on the builtins alone; an empty directory is fine."""
        p = Path(path)
        if not p.is_dir():
            raise RegistryError("E_BAD_INPUT", f"rules directory {path} not found")
        reg = Registry(builtin_rules())
        for f in sorted(p.glob("*.fp.yaml")):
            if trusted_globs is not None and not any(
                fnmatch.fnmatch(f.name, g) or fnmatch.fnmatch(str(f), g)
                for g in trusted_globs
            ):
                raise RegistryError(
                    "E_UNTRUSTED_FP", f"{f} not in trust allowlist"
                )
            d = parse_yaml(f.read_text(), source=str(f))
            reg.register(d)
        return reg
