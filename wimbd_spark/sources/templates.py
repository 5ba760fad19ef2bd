"""Promptsource contamination-template ingest.

The reference ships a template→field extraction step that feeds its
contamination workflow (wimbd/contamination/promptsource_parse.py:
30-43 plus templates.py): walk a promptsource checkout for
``templates.yaml`` files, take a template's jinja string, and pull
out the simple ``{{var}}`` field names — those fields name the eval-
dataset columns whose VALUES are then searched for in the corpus
(resources/p3_datasets.tsv is its recorded output). This module is
the Spark-side equivalent: the tree walk + parse happen driver-side
(a promptsource checkout is a few thousand tiny files — never corpus-
scale data), everything downstream is a DataFrame feeding
``operators.dedup.decontaminate_by_ngrams`` / the contamination
report.

Dependency-light by design: pyyaml only (promptsource's custom
``!Template`` tags are read with an any-tag-to-dict SafeLoader —
no jinja2, no datasets, no promptsource install).
"""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from wimbd_spark.session import local_frame

__all__ = [
    "template_fields",
    "parse_templates_yaml",
    "load_template_fields",
    "template_eval_phrases",
]

# Reference parity (promptsource_parse.py:37-39): spaces are stripped
# first, then only SIMPLE jinja variables match — `{{ premise }}`
# yields `premise`; attribute/filter expressions (`{{answers.text}}`,
# `{{text | lower}}`) yield nothing, exactly like the reference.
_FIELD_RE = re.compile(r"{{([a-zA-Z0-9_-]*)}}")


def template_fields(jinja: str) -> list[str]:
    """Simple ``{{var}}`` field names of one jinja template, in
    first-appearance order (duplicates kept — reference parity)."""
    return _FIELD_RE.findall(jinja.replace(" ", ""))


class _AnyTagLoader:  # assembled below; class only for the docstring
    """SafeLoader that turns promptsource's ``!Template`` /
    ``!TemplateMetadata`` object tags into plain dicts."""


def _loader():
    import yaml

    class L(yaml.SafeLoader):
        pass

    def _any(loader, tag_suffix, node):
        if isinstance(node, yaml.MappingNode):
            return loader.construct_mapping(node, deep=True)
        if isinstance(node, yaml.SequenceNode):
            return loader.construct_sequence(node, deep=True)
        return loader.construct_scalar(node)

    yaml.add_multi_constructor("!", _any, Loader=L)
    return L


def parse_templates_yaml(text: str) -> list[dict]:
    """One promptsource ``templates.yaml`` → list of
    ``{"template_name", "jinja", "fields"}`` dicts, in file order."""
    import yaml

    doc = yaml.load(text, Loader=_loader())
    if not isinstance(doc, dict):
        raise ValueError("templates.yaml did not parse to a mapping")
    out = []
    for t in (doc.get("templates") or {}).values():
        if not isinstance(t, dict):
            continue
        jinja = t.get("jinja") or ""
        out.append(
            {
                "template_name": str(t.get("name") or ""),
                "jinja": jinja,
                "fields": template_fields(jinja),
            }
        )
    return out


_SCHEMA = StructType(
    [
        StructField("dataset", StringType(), False),
        StructField("subset", StringType(), False),
        StructField("template_name", StringType(), False),
        StructField("fields", ArrayType(StringType(), False), False),
    ]
)


def load_template_fields(
    spark,
    root: str,
    first_template_only: bool = True,
) -> DataFrame:
    """Walk ``root`` for ``**/templates.yaml`` and return a
    (dataset, subset, template_name, fields) DataFrame.

    dataset/subset come from the path RELATIVE to ``root``
    (``root/<dataset>/templates.yaml`` → subset '';
    ``root/<dataset>/<subset>/templates.yaml``) — the reference
    hardcodes absolute path indices (promptsource_parse.py:25-27);
    relative anchoring computes the same names from any checkout
    location. ``first_template_only=True`` is reference parity (it
    takes ``templates.values()[0]``); False emits every template.

    Driver-side IO on purpose: a template tree is KBs of yaml, not
    data — the DataFrame exists so the downstream phrase join is
    distributed, not so the parse is.
    """
    rootp = Path(root)
    if not rootp.is_dir():
        raise ValueError(f"not a directory: {root}")
    rows = []
    for path in sorted(rootp.rglob("templates.yaml")):
        rel = path.relative_to(rootp).parent.parts
        if not 1 <= len(rel) <= 2:
            raise ValueError(
                f"{path}: expected <dataset>[/<subset>]/templates.yaml "
                f"under {root}"
            )
        dataset = rel[0]
        subset = rel[1] if len(rel) == 2 else ""
        parsed = parse_templates_yaml(path.read_text())
        if first_template_only:
            parsed = parsed[:1]
        for t in parsed:
            rows.append((dataset, subset, t["template_name"], t["fields"]))
    return local_frame(spark, rows, _SCHEMA)


def template_eval_phrases(
    examples: DataFrame,
    fields: list[str] | DataFrame,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Eval-PHRASE table from an eval-dataset DataFrame and the
    template-extracted field names: one row per (example, field) with
    the field column's VALUE as ``phrase`` — the table
    ``decontaminate_by_ngrams`` / ``contamination_report`` consume.

    ``fields`` is a name list or a ``load_template_fields`` output
    (all its ``fields`` arrays are unioned); names missing from
    ``examples`` are ignored (promptsource fields cover splits the
    caller may not have loaded). Null/blank values are dropped.
    Pure projection + explode of a literal — map-side, no shuffle.
    """
    if isinstance(fields, DataFrame):
        names = [
            r["f"]
            for r in fields.select(
                F.explode("fields").alias("f")
            ).distinct().collect()
        ]
    else:
        names = list(dict.fromkeys(fields))
    present = [n for n in names if n in examples.columns]
    if not present:
        raise ValueError(
            f"none of the template fields {names!r} is a column of the "
            f"examples DataFrame {examples.columns!r}"
        )
    keep = keep_cols or []
    stacked = examples.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("field"),
                        F.col(n).cast("string").alias("phrase"),
                    )
                    for n in present
                ]
            )
        ).alias("_fp"),
    ).select(*keep, "_fp.field", "_fp.phrase")
    return stacked.filter(
        F.col("phrase").isNotNull() & (F.trim(F.col("phrase")) != "")
    )
