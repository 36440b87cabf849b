"""Semantic column roles encoded in StructField metadata.

The reference's novel typing layer is a set of dataclass feature types
(Sample/Batch/Metadata/Abundance/.../ClassLabel) registered into the
Arrow schema metadata (reference: src/biosets/features/__init__.py:71-82,
features/metadata.py, features/omics.py, features/targets.py;
embedding into schema: biodata.py:1178-1195).

Spark mapping: each column's role is a JSON-able dict stored in
``StructField.metadata`` under the ``bio.*`` keys. StructField metadata
survives Parquet round-trips and ``select``/``alias`` chains, so the
roles travel with the data exactly like the reference's
``huggingface.info.features`` schema blob.

Keys:
  bio.role          one of ROLE_* below
  bio.feature_type  registered feature type name (for input features
                    and targets)
  bio.meta          free-form per-column metadata dict
                    (ValueWithMetadata.metadata analogue)
  bio.labels        label dictionary for class targets (ClassLabel.names)
  bio.positive_labels / bio.negative_labels  (BinClassLabel)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROLE_KEY = "bio.role"
FEATURE_TYPE_KEY = "bio.feature_type"
META_KEY = "bio.meta"
LABELS_KEY = "bio.labels"
POS_LABELS_KEY = "bio.positive_labels"
NEG_LABELS_KEY = "bio.negative_labels"

ROLE_SAMPLE = "sample"
ROLE_BATCH = "batch"
ROLE_METADATA = "metadata"
ROLE_FEATURE = "feature"
ROLE_TARGET = "target"

# Feature-type registry: name -> default Spark dtype.
# (reference: features/omics.py + features/targets.py dtype defaults —
# Expression float32, Abundance int64, GenomicVariant int8,
# ReadCount/KmerCount int64, PeakIntensity float32, RegressionTarget
# float32/64, ClassLabel int)
FEATURE_TYPES: dict[str, T.DataType] = {
    "value_with_metadata": T.StringType(),
    "expression": T.FloatType(),
    "abundance": T.LongType(),
    "genomic_variant": T.ByteType(),
    "read_count": T.LongType(),
    "kmer_count": T.LongType(),
    "peak_intensity": T.FloatType(),
    "class_label": T.IntegerType(),
    "bin_class_label": T.IntegerType(),
    "regression_target": T.FloatType(),
}

# Experiment-type presets: alias -> default input feature type
# (reference: packaged_modules/__init__.py:81-114 — metagenomics/otu/asv
# -> Abundance, snp/genomics -> GenomicVariant, maldi/ms1/ms2/proteomics
# -> PeakIntensity, rna-seq -> ReadCount, kmer -> KmerCount)
EXPERIMENT_TYPES: dict[str, str] = {
    "metagenomics": "abundance",
    "otu": "abundance",
    "asv": "abundance",
    "snp": "genomic_variant",
    "genomics": "genomic_variant",
    "maldi": "peak_intensity",
    "ms1": "peak_intensity",
    "ms2": "peak_intensity",
    "proteomics": "peak_intensity",
    "rna-seq": "read_count",
    "kmer": "kmer_count",
    "biodata": "value_with_metadata",
}


def register_feature_type(name: str, dtype: T.DataType) -> None:
    """Custom feature types registered by name (reference:
    features/__init__.py:71-82, docs/DATA_LOADING.md:387-410)."""
    FEATURE_TYPES[name] = dtype


def qcol(name: str):
    """Backtick-escaped column reference: a bare F.col('OTU.1') parses
    as struct access OTU -> 1 and fails UNRESOLVED_COLUMN — dotted
    names are pervasive in omics exports and in flatten() outputs."""
    return F.col("`" + name.replace("`", "``") + "`")


def with_role(
    df: DataFrame,
    col: str,
    role: str,
    feature_type: str | None = None,
    meta: dict | None = None,
    labels: list | None = None,
    positive_labels: list | None = None,
    negative_labels: list | None = None,
) -> DataFrame:
    """Tag one column with a semantic role (and optional feature type /
    label dictionary), preserving all other column metadata. Tagging
    many columns: build their dict and call ``apply_roles`` once."""
    if col not in df.columns:
        raise KeyError(f"with_role: no column named {col!r}")
    updates: dict = {ROLE_KEY: role}
    if feature_type is not None:
        updates[FEATURE_TYPE_KEY] = feature_type
    if meta is not None:
        updates[META_KEY] = meta
    if labels is not None:
        updates[LABELS_KEY] = list(labels)
    if positive_labels is not None:
        updates[POS_LABELS_KEY] = list(positive_labels)
    if negative_labels is not None:
        updates[NEG_LABELS_KEY] = list(negative_labels)
    return apply_roles(df, {col: updates})


def get_role(df: DataFrame, col: str) -> str | None:
    return (df.schema[col].metadata or {}).get(ROLE_KEY)


def get_feature_meta(df: DataFrame, col: str) -> dict:
    return (df.schema[col].metadata or {}).get(META_KEY, {})


def get_labels(df: DataFrame, col: str) -> list | None:
    return (df.schema[col].metadata or {}).get(LABELS_KEY)


def columns_with_role(df: DataFrame, *roles: str) -> list[str]:
    out = []
    for f in df.schema.fields:
        if (f.metadata or {}).get(ROLE_KEY) in roles:
            out.append(f.name)
    return out


def roles_snapshot(df: DataFrame) -> dict[str, dict]:
    """All bio.* metadata per column — used to re-apply roles after
    operators that drop StructField metadata (joins on conflicting
    names; see SURVEY §7.3 'schema-metadata survival')."""
    snap = {}
    for f in df.schema.fields:
        m = {k: v for k, v in (f.metadata or {}).items() if k.startswith("bio.")}
        if m:
            snap[f.name] = m
    return snap


def apply_roles(df: DataFrame, updates: dict[str, dict]) -> DataFrame:
    """The one writer of column metadata: every role tag, cast and
    snapshot re-application goes through here.

    ``updates`` maps a column name to the metadata keys to set on it;
    they are merged into the column's existing metadata (keys not named
    keep their value). All columns are rewritten in ONE select, so
    tagging any number of columns adds a single Project to the plan.
    Names are quoted (``qcol``), so dotted names like ``OTU.1`` are
    columns, not struct access. Names not in ``df`` are ignored."""
    cols = []
    for f in df.schema.fields:
        if f.name in updates:
            meta = {**(f.metadata or {}), **updates[f.name]}
            cols.append(qcol(f.name).alias(f.name, metadata=meta))
        else:
            cols.append(qcol(f.name))
    return df.select(*cols)
