"""V1 rule compiler: JSON Schema (draft-04 subset) → Python predicates.

The reference validates metadata by running pydatajson's JSON-Schema
validation (``base.py:434-441``) against the draft-04 documents in
``config/schemas/``. This module makes the engine's V1 rules *derive*
from schema documents instead of being hand-transcribed: each scalar
property's ``required`` / ``format`` / ``pattern`` / ``minLength``
constraints compile to one predicate per rule, which
``validate_metadata`` runs over the metadata rows the driver holds.

Supported subset (everything the catalog schemas use):

- ``required`` lists, including one level of nested object (``publisher``
  → ``publisher_name`` in the normalized frames);
- ``anyOf`` unions over string branches with ``format`` (email, uri,
  date, date-time), ``pattern``, ``minLength``/``maxLength``, plus
  ``null`` / ``integer`` / ``array`` branches;
- bare string properties with ``format``/``pattern``/``minLength``.

Structural properties (the nested entity arrays — ``dataset``,
``distribution``, ``field``, ``themeTaxonomy``) carry no value rule:
they're the normalization relationships themselves (SURVEY §1.3).

Naming contract: ``{entity}_{column}_required`` for presence,
``{entity}_{column}_format`` for value shape — so rule names stay
stable for report consumers regardless of how the schema evolves.
Patterns keep Spark ``rlike``'s ``java.util.regex`` semantics
(``java_search``).
"""

from __future__ import annotations

import functools
import json
import os
import re
from collections.abc import Callable, Mapping, Sequence

from series_tiempo_ar_scraping_spark.config import (
    CELL_COORD_REGEX,
    FREQ_ISO_TO_CODE,
)
from series_tiempo_ar_scraping_spark.sinks.reports import MetadataError
from series_tiempo_ar_scraping_spark.sources.catalog_json import SCHEMAS

SCHEMA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "config",
    "schemas",
)

# Structural nesting properties: relationships, not values.
STRUCTURAL_PROPS = {"dataset", "distribution", "field", "themeTaxonomy"}

FORMAT_REGEX: dict[str, str] = {
    "email": r"^[^@\s]+@[^@\s]+\.[^@\s]+$",
    "uri": r"^https?://\S+$",
    "date": r"^\d{4}-\d{2}-\d{2}$",
    "date-time": (
        r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(([+-]\d{2}:\d{2})|Z)?$"
    ),
}

INTEGER_REGEX = r"^-?\d+$"

# a row (a ``Row`` or a dict, read by column name) → whether it
# satisfies the rule
Rule = Callable[[Mapping], bool]

# java.util.regex outside MULTILINE/DOTALL: ``$`` also matches before one
# final line terminator (``\r\n`` as one, never between its two chars),
# and ``.`` matches no line terminator
_JAVA_TOKENS = {
    "$": r"(?=(?:\r\n|(?<!\r)\n|[\r\x85\u2028\u2029])?\Z)",
    ".": r"[^\n\r\x85\u2028\u2029]",
}


@functools.cache
def java_search(pattern: str) -> Callable[[str], bool]:
    """Spark's ``rlike``: a ``java.util.regex`` match anywhere in the
    value. ``$`` and ``.`` outside escapes and classes are rewritten to
    their Java meaning, and ``re.ASCII`` keeps ``\\d``/``\\s``/``\\S``
    to Java's ASCII classes."""
    rewritten = re.sub(
        r"\\.|\[(?:\\.|[^\]\\])*\]|[$.]",
        lambda m: _JAVA_TOKENS.get(m[0], m[0]),
        pattern,
    )
    search = re.compile(rewritten, re.ASCII).search
    return lambda v: search(v) is not None


def load_schema(entity: str) -> dict:
    with open(os.path.join(SCHEMA_DIR, f"{entity}.json")) as fh:
        return json.load(fh)


def _string_ok(v: str, branch: dict) -> bool:
    return (
        branch.get("minLength", 0) <= len(v) <= branch.get("maxLength", len(v))
        and ("format" not in branch
             or java_search(FORMAT_REGEX[branch["format"]])(v))
        and ("pattern" not in branch or java_search(branch["pattern"])(v))
        and ("enum" not in branch or v in branch["enum"])
    )


def _branch_ok(v: str, branch: dict) -> bool:
    """Whether a present (non-null) value satisfies one ``anyOf``
    branch."""
    t = branch.get("type")
    if t == "integer":
        # Normalized frames carry metadata scalars as strings.
        return java_search(INTEGER_REGEX)(v)
    if t == "string" or (t is None and _is_constrained(branch)):
        # draft-04 allows type-less constrained branches (e.g.
        # {"format": "uri"}): the string-class keywords still apply, or
        # the inventory would count an always-pass rule as covered.
        return _string_ok(v, branch)
    # Array typing is enforced by the frame schema itself; an object is
    # flattened into its own columns.
    return t not in ("null", "object")


def _value_rule(col: str, branches: list[dict]) -> Rule:
    """A null value passes; a present one must satisfy some branch."""
    return lambda row: row[col] is None or any(
        _branch_ok(row[col], b) for b in branches
    )


def _is_constrained(branch: dict) -> bool:
    if branch.get("type") in ("null", "array", "object"):
        return False
    return bool(
        {"format", "pattern", "minLength", "maxLength", "enum"}
        & branch.keys()
    ) or branch.get("type") == "integer"


def _rule_suffix(prop_schema: dict) -> str:
    """``enum`` when the only value constraint is an enum (so rule names
    read ``field_type_enum``, the vocabulary-check idiom); ``format``
    otherwise."""
    branches = prop_schema.get("anyOf", [prop_schema])
    kinds = {
        k
        for b in branches
        for k in ("format", "pattern", "minLength", "maxLength", "enum")
        if k in b
    }
    return "enum" if kinds == {"enum"} else "format"


def _scalar_paths(schema: dict) -> list[tuple[str, dict, bool]]:
    """[(flattened_column, prop_schema, is_required)] for every scalar
    property, flattening one nested-object level with ``_`` (matching the
    normalized frame columns, e.g. ``publisher_name``)."""
    out: list[tuple[str, dict, bool]] = []
    required = set(schema.get("required", []))
    for prop, ps in schema.get("properties", {}).items():
        if prop in STRUCTURAL_PROPS:
            continue
        if ps.get("type") == "object":
            sub_required = set(ps.get("required", []))
            out.extend(
                (f"{prop}_{sub}", sub_ps, prop in required and sub in sub_required)
                for sub, sub_ps in ps.get("properties", {}).items()
            )
        else:
            out.append((prop, ps, prop in required))
    return out


def schema_constraint_inventory(entity: str) -> dict[str, set[str]]:
    """For tests: which constraint kinds the schema declares per column —
    lets a test assert every declared constraint produced a rule."""
    schema = load_schema(entity)
    out: dict[str, set[str]] = {}
    for col_name, ps, is_required in _scalar_paths(schema):
        kinds: set[str] = set()
        if is_required:
            kinds.add("required")
        branches = ps.get("anyOf", [ps])
        if any(_is_constrained(b) for b in branches):
            kinds.add(_rule_suffix(ps))
        if kinds:
            out[col_name] = kinds
    return out


# The engine's rules beyond the schemas: routing needs a source URL
# (``base.py:123-153``); the field rules guard scraping extensions
# (``tests/project/mock/test1.json:52-60``): a supported time-index
# frequency (``processors.py:230-238``) and A1 cell coordinates
# (``processors.py:223-228``).
_ENGINE_RULES: dict[str, dict[str, Rule]] = {
    "distribution": {
        "distribution_has_source_url": lambda row: (
            row["downloadURL"] is not None
            or row["scrapingFileURL"] is not None
        ),
    },
    "field": {
        "field_time_index_frequency": lambda row: (
            row["specialType"] != "time_index"
            or row["specialTypeDetail"] in FREQ_ISO_TO_CODE
        ),
        "field_identifier_cell_coord": _value_rule(
            "scrapingIdentifierCell", [{"pattern": CELL_COORD_REGEX}]
        ),
        "field_data_start_cell_coord": _value_rule(
            "scrapingDataStartCell", [{"pattern": CELL_COORD_REGEX}]
        ),
    },
}

# frame → (schema document, how many of the ids catalog, dataset,
# distribution its error rows carry)
_ENTITIES = {
    "catalogs": ("catalog", 1),
    "datasets": ("dataset", 2),
    "distributions": ("distribution", 3),
    "fields": ("field", 3),
}
_IDS = ("catalog_id", "dataset_id", "distribution_id")


def entity_rules(frame: str) -> dict[str, Rule]:
    """Every V1 rule of one normalized frame, in evaluation order: its
    schema document's rules, then the engine's own. Rules compile over
    the frame's ``SCHEMAS`` columns: a schema property the engine doesn't
    materialize (e.g. ``spatial``) produces no rule rather than a crash,
    and one whose branches are all unconstrained (plain stringOrNull) no
    value rule."""
    entity, _n = _ENTITIES[frame]
    rules: dict[str, Rule] = {}
    for col, ps, is_required in _scalar_paths(load_schema(entity)):
        if col not in SCHEMAS[frame].names:
            continue
        if is_required:
            rules[f"{entity}_{col}_required"] = (
                lambda row, c=col: row[c] is not None
            )
        branches = ps.get("anyOf", [ps])
        if any(_is_constrained(b) for b in branches):
            rules[f"{entity}_{col}_{_rule_suffix(ps)}"] = _value_rule(
                col, branches
            )
    return {**rules, **_ENGINE_RULES.get(entity, {})}


def validate_metadata(rows: Mapping[str, Sequence[Mapping]]) -> list[MetadataError]:
    """V1 — one error per (row, violated rule) over each frame's rows
    (``Row``s or dicts; a frame with no rows has no error), in frame,
    row and rule order. Parity with ``validate_catalog(only_errors=True,
    fmt='list')`` at ``base.py:434-441``."""
    errors = []
    for frame, (entity, n) in _ENTITIES.items():
        rules = entity_rules(frame)
        for row in rows.get(frame, ()):
            ids = [row[c] for c in _IDS[:n]] + [None] * (len(_IDS) - n)
            errors.extend(
                MetadataError(entity, *ids, name)
                for name, ok in rules.items()
                if not ok(row)
            )
    return errors
