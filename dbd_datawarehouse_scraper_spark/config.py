"""Layered engine configuration: defaults < YAML file < explicit overrides.

The reference resolves its runtime knobs the same way (hard-coded
defaults, then ``config.yaml``, then CLI flags — scraper_v2.py:341-409,
1620-1672). Here the resolved config is a plain frozen mapping that
parameterizes operators (field lists become ``isin`` filters, thresholds
become literals); it never changes schemas, matching how the reference
treats configurable field lists (scraper_v2.py:1190-1196).

YAML parsing is gated behind an import-try: the engine only needs it
when a config file is actually supplied.
"""

from __future__ import annotations

import copy
import json
from typing import Any, Mapping

# Income-statement + balance-sheet field lists mirror the reference's
# configurable extraction schema (scraper_v2.py:146-177, config.yaml:133-162).
DEFAULTS: dict[str, Any] = {
    "matching": {
        "similarity_threshold": 0.95,  # scraper_v2.py:142
        "max_pages": 20,               # scraper_v2.py:1609
        "require_thai_suffix": True,   # thai_filter toggle, scraper_v2.py:364
    },
    "extraction": {
        "mode": "full",                # "full" | "revenue_only" (scraper_v2.py:1292)
        "include_balance_sheet": True, # scraper_v2.py:180
        "income_fields": [
            "รายได้รวม", "รายได้จากการขายและบริการ", "ต้นทุนขายสินค้าและบริการ",
            "กำไรขั้นต้น", "ค่าใช้จ่ายในการขายและบริหาร", "กำไรจากการดำเนินงาน",
            "ดอกเบี้ยจ่าย", "กำไรก่อนภาษีเงินได้", "ภาษีเงินได้", "กำไรสุทธิ",
        ],
        "balance_fields": [
            "สินทรัพย์หมุนเวียน", "สินทรัพย์ไม่หมุนเวียน", "สินทรัพย์รวม",
            "หนี้สินหมุนเวียน", "หนี้สินไม่หมุนเวียน", "หนี้สินรวม",
            "ทุนจดทะเบียน", "ทุนที่ออกและชำระแล้ว", "ส่วนของผู้ถือหุ้น",
            "กำไรสะสม", "หนี้สินรวมและส่วนของผู้ถือหุ้น",
        ],
        "target_years": None,          # None = all years (scraper_v2.py:127)
    },
    "fetch": {
        "max_retries": 3,              # scraper_v2.py:138
        "retry_extra_wait": 0.0,       # backoff unit; 0 in tests
        "delay_between_requests": 0.0, # politeness delay per row; 0 in tests
        "profile_prefixes": ["5", "7", "6", "3", ""],  # scraper_v2.py:1259
        # politeness parallelism: partitions × per-row delay bounds the
        # cluster-wide request rate (the reference's --workers,
        # scraper_v2.py:1606); None = one partition per core
        "fetch_partitions": None,
    },
    "io": {
        "batch_size": 20,              # micro-batch durability, scraper_v2.py:129
        "output_format": "parquet",
        "backup_on_overwrite": False,
    },
    "spark": {
        "shuffle_partitions": 32,
        "target_partition_bytes": 128 * 1024 * 1024,
    },
}


def _deep_merge(base: dict[str, Any], override: Mapping[str, Any]) -> dict[str, Any]:
    out = copy.deepcopy(base)
    for key, value in override.items():
        if isinstance(value, Mapping) and isinstance(out.get(key), dict):
            out[key] = _deep_merge(out[key], value)
        else:
            out[key] = copy.deepcopy(value)
    return out


# sections that exist only in the REFERENCE's config.yaml layout
_REFERENCE_SECTIONS = {"input", "output", "search", "processing", "retry",
                       "browser", "debug"}


def is_reference_format(file_conf: Mapping[str, Any]) -> bool:
    return bool(_REFERENCE_SECTIONS & set(file_conf))


def translate_reference_config(file_conf: Mapping[str, Any]) -> dict[str, Any]:
    """Map a REFERENCE-format config.yaml (config.yaml:16-162 — sections
    input/output/search/processing/retry/browser/debug/extraction) onto
    this engine's schema, so a user switching engines can keep their
    config file unchanged. Browser wait knobs have no engine analog
    (the fetch clients own their timing) and are ignored; input/output
    file settings are surfaced to the CLI via ``reference_io_settings``.
    """
    out: dict[str, Any] = {"matching": {}, "fetch": {}, "extraction": {}, "io": {}}
    search = file_conf.get("search", {}) or {}
    if "max_pages" in search:
        out["matching"]["max_pages"] = search["max_pages"]
    if "similarity_threshold" in search:
        out["matching"]["similarity_threshold"] = search["similarity_threshold"]
    inp = file_conf.get("input", {}) or {}
    if "filter_thai" in inp:
        out["matching"]["require_thai_suffix"] = inp["filter_thai"]
    proc = file_conf.get("processing", {}) or {}
    if "delay_between_requests" in proc:
        out["fetch"]["delay_between_requests"] = proc["delay_between_requests"]
    if "workers" in proc:
        out["fetch"]["fetch_partitions"] = proc["workers"]
    if "batch_size" in proc:
        out["io"]["batch_size"] = proc["batch_size"]
    retry = file_conf.get("retry", {}) or {}
    if "max_retries" in retry:
        out["fetch"]["max_retries"] = retry["max_retries"]
    if "extra_wait_per_retry" in retry:
        out["fetch"]["retry_extra_wait"] = retry["extra_wait_per_retry"]
    outp = file_conf.get("output", {}) or {}
    if "force_overwrite" in outp:
        out["io"]["backup_on_overwrite"] = not outp["force_overwrite"]
    ext = file_conf.get("extraction", {}) or {}
    if ext.get("mode"):
        out["extraction"]["mode"] = (
            "full" if ext["mode"] == "all" else ext["mode"]
        )
    # new key wins over the legacy 'fields' key (scraper_v2.py:1654-1657)
    if ext.get("income_statement_fields"):
        out["extraction"]["income_fields"] = list(ext["income_statement_fields"])
    elif ext.get("fields"):
        out["extraction"]["income_fields"] = list(ext["fields"])
    if "include_balance_sheet" in ext:
        out["extraction"]["include_balance_sheet"] = ext["include_balance_sheet"]
    if ext.get("balance_sheet_fields"):
        out["extraction"]["balance_fields"] = list(ext["balance_sheet_fields"])
    return {k: v for k, v in out.items() if v}


def reference_io_settings(file_conf: Mapping[str, Any]) -> dict[str, Any]:
    """The reference config's input/output/processing/debug settings that
    belong to the CLI rather than the engine conf (file paths, columns,
    start index, test count)."""
    inp = file_conf.get("input", {}) or {}
    outp = file_conf.get("output", {}) or {}
    proc = file_conf.get("processing", {}) or {}
    dbg = file_conf.get("debug", {}) or {}
    m = {
        "input": inp.get("file"),
        "column": inp.get("company_column"),
        "reg_column": inp.get("reg_column"),
        "sheet": inp.get("sheet"),
        "output": outp.get("revenue_file"),
        "not_found_output": outp.get("not_found_file"),
        "force": outp.get("force_overwrite"),
        "start": proc.get("start_index"),
        "test": dbg.get("test_count"),
    }
    return {k: v for k, v in m.items() if v is not None}


def read_config_file(yaml_path: str) -> dict[str, Any]:
    try:
        import yaml  # type: ignore
    except ImportError:
        with open(yaml_path, "r", encoding="utf-8") as fh:
            return json.load(fh)  # JSON is valid YAML; degrade gracefully
    with open(yaml_path, "r", encoding="utf-8") as fh:
        return yaml.safe_load(fh) or {}


def load_config(
    yaml_path: str | None = None,
    overrides: Mapping[str, Any] | None = None,
) -> dict[str, Any]:
    """Resolve the layered config: DEFAULTS < yaml_path < overrides.
    A reference-format file (see ``translate_reference_config``) is
    detected by its section names and translated automatically."""
    conf = copy.deepcopy(DEFAULTS)
    if yaml_path:
        file_conf = read_config_file(yaml_path)
        if is_reference_format(file_conf):
            file_conf = translate_reference_config(file_conf)
        conf = _deep_merge(conf, file_conf)
    if overrides:
        conf = _deep_merge(conf, overrides)
    return conf


def generate_default_config(path: str) -> str:
    """Write the default config file (the reference's --generate-config,
    scraper_v2.py:1616-1618). YAML when available, JSON otherwise (JSON
    is valid YAML, so ``load_config`` reads either back)."""
    try:
        import yaml  # type: ignore

        body = yaml.safe_dump(DEFAULTS, allow_unicode=True, sort_keys=False)
    except ImportError:
        body = json.dumps(DEFAULTS, ensure_ascii=False, indent=2)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(body)
    return path


def active_fields(conf: Mapping[str, Any]) -> list[str]:
    """Field whitelist implied by the extraction config (the reference's
    revenue_only legacy mode is just a one-element field list,
    scraper_v2.py:1292-1305)."""
    ext = conf["extraction"]
    if ext["mode"] == "revenue_only":
        return ["รายได้รวม"]
    fields = list(ext["income_fields"])
    if ext["include_balance_sheet"]:
        fields += list(ext["balance_fields"])
    return fields
