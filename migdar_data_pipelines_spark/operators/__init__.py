"""Operator library mirroring SURVEY.md §2.

Each operator is a function DataFrame -> DataFrame (or a small builder class),
expressed with built-in pyspark.sql.functions so Catalyst can push down,
prune, and codegen. Pandas UDFs appear only where column expressions genuinely
cannot express the semantics. Per-value Python work that the reference does in
one process runs once on the driver instead of per row on executors: fuzzy
translation scores each distinct value and ships a map literal, and HTTP
enrichment checks rows from a driver thread pool.
"""

from .core import (  # noqa: F401
    filter_rows,
    filter_rows_equals,
    select_fields,
    delete_fields,
    add_field,
    add_computed_field,
    format_field,
    set_type,
    rename_fields,
)
from .concatenate import concatenate  # noqa: F401
from .unpivot import unpivot_regex  # noqa: F401
from .joins import join as join_resources, join_self  # noqa: F401
from .asof import asof_join  # noqa: F401
from .rangejoin import range_join_bucketed  # noqa: F401
from .sketches import hll_distinct, hll_registers  # noqa: F401
from .sketches import cms_sketch, cms_estimate  # noqa: F401
from .sketches import (  # noqa: F401
    kmv_adjacent_overlap,
    kmv_set_ops,
    kmv_sketch,
    kmv_sketch_by,
    sampled_quantiles,
)
from .linkage import blocked_linkage, block_histogram, phonetic_block_key  # noqa: F401
from .windows import (  # noqa: F401
    forward_fill,
    dedup_suffix,
    add_ordinal,
    explode_dedup,
    first_seen_dedup,
)
from .textops import (  # noqa: F401
    extract_year,
    fix_url,
    rewrite_links_as_anchors,
    normalize_none_strings,
    clip_field,
    recode_map,
    expand_year_ranges,
    year_date_range,
    md5_doc_id,
    content_hash,
    clean_string,
    split_to_array,
)
from .translate import split_and_translate, TranslationTable  # noqa: F401
from .cdc import hash_diff  # noqa: F401
from .cv_events import extract_cv_events  # noqa: F401
from .validate import validate_not_null, validate_in_set, validate_range  # noqa: F401
