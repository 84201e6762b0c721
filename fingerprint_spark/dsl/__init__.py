"""Rule DSL: YAML definitions -> validated, versioned, broadcastable rule
objects -> compiled Catalyst expressions."""

from .compiler import compile_assertion, compile_rule
from .model import (
    Clause,
    ContentHashConfig,
    FingerprintDefinition,
    clause_params,
)
from .parser import parse_definition, parse_yaml
from .registry import Registry, builtin_rules
from .validate import ValidationError, validate_definition

__all__ = [
    "Clause",
    "clause_params",
    "ContentHashConfig",
    "FingerprintDefinition",
    "parse_yaml",
    "parse_definition",
    "validate_definition",
    "ValidationError",
    "compile_rule",
    "compile_assertion",
    "Registry",
    "builtin_rules",
]
