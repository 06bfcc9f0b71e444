"""Package manifest: the Spark equivalent of ``datapackage.json``.

The reference hands data between pipelines exclusively as materialized
datapackages on disk — dump_to_path writes CSVs + a datapackage.json descriptor
(reference: flows/judges.py:150, flows/dump_to_es.py:155), and dependent
pipelines reload them by descriptor (flows/dataset_assets.py:69-71).

Here each "package" is a directory of parquet resources plus one
``manifest.json`` recording resource names, Table Schema (with es:* metadata),
primary key, row count and a content fingerprint — mirroring the reference's
``{count_of_rows, bytes, hash}`` run stats (QUICKSTART.md:312-315) which are its
only output-fingerprinting mechanism.
"""

from __future__ import annotations

import json
import os
from typing import Any

from .table_schema import schema_to_struct

MANIFEST_NAME = "manifest.json"


def write_manifest(
    path: str,
    resources: dict[str, dict[str, Any]],
    name: str = "package",
) -> str:
    """Write manifest.json; ``resources`` maps resource name -> descriptor
    (schema / primaryKey / count / fingerprint / path)."""
    manifest = {
        "name": name,
        "resources": [
            {"name": rname, "path": desc.get("path", f"{rname}.parquet"), **desc}
            for rname, desc in resources.items()
        ],
    }
    os.makedirs(path, exist_ok=True)
    fp = os.path.join(path, MANIFEST_NAME)
    with open(fp, "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False, indent=1, default=str)
    return fp


def read_manifest(path: str) -> dict[str, Any]:
    with open(os.path.join(path, MANIFEST_NAME), encoding="utf-8") as f:
        return json.load(f)


__all__ = [
    "write_manifest",
    "read_manifest",
    "schema_to_struct",
]
