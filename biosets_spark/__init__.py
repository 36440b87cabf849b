"""biosets_spark: a PySpark-native analytics engine with the query and
data-processing capabilities of psmyth94/biosets (reference studied at
/root/reference), re-architected Spark-first.

Layers (SURVEY.md §7.0):
- sources/   readers + path planning + Parquet sink
- schema/    physical type lattice + semantic role metadata
- operators/ joins, concat, labels, splits, dedup, similarity, text
- functions/ scalar/vector expression helpers
- plans/     plan-fingerprint cache
- streaming/ Structured Streaming ingest + windowed/stateful ops
"""

from .dataset import BioDataset, BioDatasetDict
from .load import ReadInstruction, load_dataset
from .operators.joins import release_pinned_indexes
from .session import get_spark
from .sources.sink import load_from_disk, save_to_disk


def concatenate_datasets(dsets: list, axis: int = 0) -> "BioDataset":
    """Reference-parity top-level concat (datasets.concatenate_datasets):
    axis 0 unions rows through the type-promotion lattice, axis 1 zips
    columns positionally (first-wins on duplicate names). Accepts
    BioDataset or DataFrame items."""
    from .operators.concat import concat as _concat

    frames = [d.df if isinstance(d, BioDataset) else d for d in dsets]
    split = next((d.split for d in dsets if isinstance(d, BioDataset)), "train")
    return BioDataset(_concat(frames, axis=axis), split=split)


__version__ = "0.1.0"

# ---- free-function role accessors (reference arrow_dataset.py:141-255
# exposes these module-level, operating on a dataset argument; the
# BioDataset methods are the primary surface, these mirror the exact
# None/flatten conventions of the reference signatures) --------------


def get_sample_col_name(X: "BioDataset"):
    """First column tagged with the sample role, else None."""
    return X.get_sample_col_name()


def get_batch_col_name(X: "BioDataset"):
    """First column tagged with the batch role, else None."""
    from .schema import roles as _r

    cols = _r.columns_with_role(X.df, _r.ROLE_BATCH)
    return cols[0] if cols else None


def get_metadata_col_names(X: "BioDataset"):
    """Columns tagged sample/batch/metadata; None (not []) when absent."""
    from .schema import roles as _r

    cols = _r.columns_with_role(X.df, _r.ROLE_SAMPLE, _r.ROLE_BATCH, _r.ROLE_METADATA)
    return cols or None


def get_target_col_names(X: "BioDataset", flatten: bool = True):
    """Target-role columns. With flatten=True a single target comes
    back as a bare string (reference convention); None when absent."""
    cols = X.get_target_col_names()
    if not cols:
        return None
    if flatten and len(cols) == 1:
        return cols[0]
    return cols


def get_data_col_names(X: "BioDataset"):
    """Complement convention of the reference: every column NOT tagged
    as metadata or target (untagged columns count as data)."""
    from .schema import roles as _r

    excluded = set(
        _r.columns_with_role(
            X.df, _r.ROLE_SAMPLE, _r.ROLE_BATCH, _r.ROLE_METADATA, _r.ROLE_TARGET
        )
    )
    return [c for c in X.columns if c not in excluded]


def get_data(X: "BioDataset"):
    cols = get_data_col_names(X)
    return X.select_columns(cols) if cols else None


def get_target(X: "BioDataset", decode: bool = False):
    """Target columns as a dataset (None when untagged); decode=True
    maps encoded labels back to strings via the stored dictionary."""
    cols = X.get_target_col_names()
    if not cols:
        return None
    out = X.select_columns(cols)
    return out.decode(cols[0]) if decode else out


def get_sample_metadata(X: "BioDataset"):
    cols = get_metadata_col_names(X)
    return X.select_columns(cols) if cols else None


def get_feature_metadata(X: "BioDataset") -> dict:
    return X.get_feature_metadata()


def decode(X: "BioDataset", target_name: str | None = None) -> "BioDataset":
    """Decode an encoded label column back to strings; a non-target
    column is returned unchanged (reference convention, not an error)."""
    from .schema import roles as _r

    name = target_name or X.columns[0]
    if _r.get_role(X.df, name) != _r.ROLE_TARGET or not _r.get_labels(X.df, name):
        return X
    return X.decode(name)


def cleanup_cache_files(cache_directory: str) -> int:
    """Remove every materialized cache entry under ``cache_directory``
    and return how many were deleted (reference arrow_dataset.py:255)."""
    from .plans.fingerprint import FingerprintCache

    return FingerprintCache(cache_directory).clear()


__all__ = [
    "BioDataset", "BioDatasetDict", "load_dataset", "ReadInstruction", "get_spark", "save_to_disk",
    "load_from_disk", "concatenate_datasets",
    "get_sample_col_name", "get_batch_col_name", "get_metadata_col_names",
    "get_target_col_names", "get_data_col_names", "get_data", "get_target",
    "get_sample_metadata", "get_feature_metadata", "decode", "cleanup_cache_files",
    "release_pinned_indexes",
]
