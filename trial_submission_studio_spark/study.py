"""Study orchestration — the reference's three entry points
(SURVEY.md §3), as a library API.

1. :func:`create_study` ≙ create_study_from_assignments
   (tss-gui/src/service/study.rs:27-153): read each assigned CSV,
   load study metadata, apply study-codelist decodes, RELSUB
   reciprocal augmentation, profile columns, suggest mappings.
2. :func:`build_domain` ≙ build_preview_dataframe_with_dm
   (tss-submit/src/normalize/preview.rs:144-171): infer rules, bind
   mappings, compile, execute.
3. :func:`export_study` ≙ execute_export (tss-gui/src/service/
   export.rs:127-276): validate only to gate (errors block; a bypassed
   gate runs no validation at all), then write XPT or Dataset-XML per
   domain plus define.xml, both fed by one observed-length scan per
   domain.

Driver/executor split: everything schema-sized (mappings, rule
inference, XML envelopes) runs on the driver; every data-shaped step
is a DataFrame plan.

Residency: the reference holds each built domain in memory; here a
built domain stays a lazy plan until a lifecycle call consumes it.
Then the :class:`Study` pins it (``persist``) as the resident frame of
its dataset code (``Study.resident``): every frame given to
:func:`validate_study` or :func:`export_study`. Later actions on a
pinned frame read memory instead of re-reading the CSVs and re-running
the --SEQ window and the DM join. A pinned frame is released
(``unpersist``) when its code gets a different frame, on
:meth:`Study.close`, or when the study is garbage-collected without
``close()``. ``build_domain`` pins nothing, neither its result nor its
``dm_frame``: the edit loop rebuilds a domain and previews 100 rows of
it, and caching there only added cache planning and cache build to
that action.
"""

from __future__ import annotations

import contextlib
import os
import threading
import weakref
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trial_submission_studio_spark.io.dataset_xml import write_dataset_xml
from trial_submission_studio_spark.io.define_xml import (
    DefineDataset,
    DefineVariable,
    write_define_xml,
)
from trial_submission_studio_spark.io.xpt import XptVariable, write_xpt
from trial_submission_studio_spark.mapping import MappingState
from trial_submission_studio_spark.operators.normalize import (
    NormalizationContext,
    compile_pipeline,
    infer_rules,
)
from trial_submission_studio_spark.operators.profiling import max_observed_length
from trial_submission_studio_spark.operators.reshape import reciprocal_augment, supp_unpivot
from trial_submission_studio_spark.operators.validation import (
    ISSUE_SCHEMA,  # noqa: F401 (re-exported for callers)
    VariableSpec,
    _issue_frame,
    duplicate_sequence_issues,  # noqa: F401 (a perfbench tracing target)
    melt_domain_keys,
    rdomain_invalid,  # noqa: F401 (a perfbench tracing target)
    relrec_invalid_references,
    relspec_invalid_parents,
    relsub_not_bidirectional,
    rsubjid_not_in_dm,
    usubjid_not_in_dm,  # noqa: F401 (a perfbench tracing target)
    validate_domain,
)
from trial_submission_studio_spark.sources.csv_reader import (
    SourceTable,
    read_source_csv,
    read_source_csvs,
)
from trial_submission_studio_spark.standards.sdtm_domains import (
    DOMAINS,
    base_domain_code,
)


@dataclass
class Study:
    spark: SparkSession
    study_id: str
    sources: dict[str, SourceTable] = field(default_factory=dict)
    mappings: dict[str, MappingState] = field(default_factory=dict)
    ct_lookup: DataFrame | None = None
    domains: dict[str, list[dict]] = field(default_factory=dict)  # registry vars
    metadata: object | None = None  # StudyMetadata from Items.csv, if any
    resident: dict[str, DataFrame] = field(default_factory=dict, init=False)

    def __post_init__(self):
        # holds the dict, not the study: a dropped study stays collectable
        weakref.finalize(self, _release_dropped, self.resident).atexit = False

    def close(self) -> None:
        """Unpersist every resident frame. The study stays usable: a
        later lifecycle call pins what it consumes again."""
        _unpersist_all(self.resident)


def _unpersist_all(resident: dict[str, DataFrame]) -> None:
    for df in resident.values():
        with contextlib.suppress(Py4JError):  # a stopped session holds no cache
            df.unpersist()
    resident.clear()


def _release_dropped(resident: dict[str, DataFrame]) -> None:
    """Finalizer of a study dropped without ``close()``. The garbage
    collector may run it in the middle of a py4j call on this thread,
    so the unpersist calls go out on a thread (and py4j connection) of
    their own."""
    if resident:
        worker = threading.Thread(target=_unpersist_all, args=(resident,))
        with contextlib.suppress(RuntimeError):  # no new threads at shutdown
            worker.start()
            worker.join()


def _pin(study: Study, code: str, df: DataFrame) -> None:
    """Make ``df`` the resident frame of ``code``: persist it, and
    unpersist the frame it replaces."""
    code = code.upper()
    old = study.resident.get(code)
    if old is df:
        return
    if old is not None:
        old.unpersist()
    study.resident[code] = df.persist()


def create_study(
    spark: SparkSession,
    study_id: str,
    assignments: dict[str, str | list[str]],  # dataset name -> csv path(s)
    header_rows: int = 2,
    min_confidence: float = 0.7,
    ct_lookup: DataFrame | str | None = None,
    registry: dict[str, dict] | None = None,
    metadata_files: list[str] | None = None,
    metadata_header_rows: int = 2,
    codelists_file: str | None = None,
) -> Study:
    """Assignment keys are DATASET names, not just domain codes: a
    split dataset (``LBCC``, ``QS_PGA`` — the reference's mockdata
    layout, handled via ``DomainFrame.dataset_name_override`` in
    export/types.rs:12-22) resolves its registry metadata through
    :func:`base_domain_code`. A value may also be a LIST of CSV paths
    (one physical domain delivered as several files); they union with
    dense cross-file ``_row_id`` offsets via :func:`read_source_csvs`.

    ``metadata_files``: candidate Items.csv paths; the first that
    loads wins (reference study.rs:43-49). Its per-column labels
    enrich every source table's labels (and therefore the fuzzy
    mapping suggestions) wherever the CSV headers carried none.

    ``ct_lookup``: a prebuilt lookup frame, ``"full"`` for the
    complete shipped NCI release snapshots
    (:func:`~trial_submission_studio_spark.standards.ct_catalog.full_lookup_df`
    — every public codelist resolves), or None for the curated
    default catalog.
    """
    registry = registry or DOMAINS
    if ct_lookup is None or isinstance(ct_lookup, str):
        # T8/V8 work out of the box: the shipped public-CT-derived
        # catalog (newest version) backs CT normalization unless the
        # caller brings their own lookup frame
        from trial_submission_studio_spark.standards.ct_catalog import (
            builtin_lookup_df,
            full_lookup_df,
        )

        if isinstance(ct_lookup, str):
            if ct_lookup != "full":
                raise ValueError(
                    f"ct_lookup must be a DataFrame, 'full', or None; "
                    f"got {ct_lookup!r}"
                )
            ct_lookup = full_lookup_df(spark)
        else:
            ct_lookup = builtin_lookup_df(spark)
    study = Study(spark=spark, study_id=study_id, ct_lookup=ct_lookup)
    for meta_path in metadata_files or []:
        try:
            from trial_submission_studio_spark.sources.items_metadata import (
                load_items_metadata,
            )

            study.metadata = load_items_metadata(
                spark,
                meta_path,
                codelists_path=codelists_file,
                header_rows=metadata_header_rows,
            )
            break  # first valid Items.csv wins (reference study.rs:43-49)
        except Exception:  # noqa: BLE001 — a bad candidate is skipped
            continue
    for code, path in assignments.items():
        code = code.upper()
        base = base_domain_code(code)
        if isinstance(path, (list, tuple)):
            table = read_source_csvs(spark, list(path), header_rows=header_rows)
        else:
            table = read_source_csv(spark, path, header_rows=header_rows)
        if base == "RELSUB" and {"USUBJID", "RSUBJID", "SREL"} <= set(table.columns):
            table.df = reciprocal_augment(table.df)
        if study.metadata is not None:
            from trial_submission_studio_spark.operators.codelist_decode import (
                apply_codelist_decode,
            )
            from trial_submission_studio_spark.sources.local import values_df

            for c in list(table.columns):
                item = study.metadata.items.get(c)
                # Items.csv label fills columns whose header carried
                # none (single-row-header CSVs label columns with
                # their own names)
                if item and item.label and table.labels.get(c, c) == c:
                    table.labels[c] = item.label
                # study-codelist decode at import (T11, reference
                # metadata/application.rs:38-151): a coded column with
                # a FormatName decodes to its CD-stripped sibling,
                # fill-only when the sibling exists
                cl = (
                    study.metadata.codelists.get(item.format_name)
                    if item and item.format_name
                    else None
                )
                if cl:
                    cl_df = values_df(
                        spark,
                        sorted(cl.items()),
                        "code_value string, code_text string",
                    )
                    table.df = apply_codelist_decode(table.df, c, cl_df)
                    target = c[:-2] if c.upper().endswith("CD") else c + "_DECODED"
                    if target not in table.columns:
                        table.columns.append(target)
                        table.labels.setdefault(
                            target, (item.label or target).removesuffix(" - Code")
                        )
        study.sources[code] = table
        variables = (
            registry.get(code) or registry.get(base) or registry.get("SUPPQUAL", {})
        ).get("variables", [])
        study.domains[code] = variables
        study.mappings[code] = MappingState.new(
            base,
            variables,
            table.columns,
            min_confidence=min_confidence,
            column_labels=table.labels,
        )
    return study


def build_domain(study: Study, code: str, dm_frame: DataFrame | None = None) -> DataFrame:
    """Infer rules from the registry + mapping state, then compile.

    ``dm_frame``: the already-built DM domain. Its per-subject RFSTDTC
    feeds the --DY study-day rules via a broadcast-eligible join keyed
    on the raw subject source column (USUBJID is "{study}-{subj}", so
    the raw key is recovered by stripping the study prefix — the
    per-subject upgrade of the reference's single global date).
    """
    code = code.upper()
    table = study.sources[code]
    st = study.mappings[code]
    subj_src = st.source.get("SUBJID") or st.source.get("USUBJID")
    ref_df = None
    if (
        dm_frame is not None
        and code != "DM"
        and {"USUBJID", "RFSTDTC"} <= set(dm_frame.columns)
        and subj_src
    ):
        # strip the literal "{study}-" prefix: the study id is data, and
        # as a regex K+1 or K(1) would match no USUBJID
        prefix = study.study_id + "-"
        usubjid = F.col("USUBJID")
        ref_df = dm_frame.select(
            F.when(
                usubjid.startswith(prefix),
                F.substr(usubjid, F.lit(len(prefix) + 1)),
            )
            .otherwise(usubjid)
            .alias(subj_src),
            "RFSTDTC",
        )
    ctx = NormalizationContext(
        study_id=study.study_id,
        # BASE code: a split dataset (LBCC) still carries DOMAIN='LB'
        # and LB-prefixed variable names (SDTM-IG split-dataset rule)
        domain_code=base_domain_code(code),
        order_col=SourceTable.ROW_ID,
        subject_col=subj_src or SourceTable.ROW_ID,
        ct_lookup=study.ct_lookup,
        ref_date_df=ref_df,
    )
    rules = infer_rules(study.domains[code], st.accepted_mappings(), ctx)
    return compile_pipeline(table.df, rules, ctx)


def validate_study(study: Study, frames: dict[str, DataFrame]) -> DataFrame:
    """Every check of the reference's validate_cross_domain
    (validate/mod.rs:100-175), as one aggregate query per frame plus
    one anti-join query per cross-table check:

    - :func:`validate_domain` per frame: V1–V7, V5 duplicate --SEQ,
      J1 USUBJID∈DM (every non-DM frame carrying USUBJID) and J2
      RDOMAIN validity (CO / RELREC / SUPP-- frames)
    - J3 RSUBJID∈DM and J4 bidirectionality for RELSUB
    - J5 PARENT→REFID for RELSPEC
    - J6 melted-key record references for RELREC
    """
    spark = study.spark
    for code, df in frames.items():
        _pin(study, code, df)
    # JVM-only empty frame: createDataFrame([]) parallelizes and pays
    # a Python-worker task per downstream action (see _issue_frame)
    report = _issue_frame(spark, [])
    dm = frames.get("DM")
    submitted = list(frames)
    for code, df in frames.items():
        upper = code.upper()
        specs = [
            VariableSpec(
                v["name"],
                core=v.get("core", "Perm"),
                data_type=v.get("data_type", "Char"),
                length=v.get("length"),
                role=v.get("role", ""),
                codelist_code=v.get("codelist_code") or None,
            )
            for v in study.domains.get(code, [])
        ]
        cross_refs = upper in ("CO", "RELREC") or upper.startswith("SUPP")
        report = report.unionByName(
            validate_domain(
                df, code, specs,
                dm=dm if upper != "DM" else None,
                submitted=submitted if cross_refs else None,
                # base code: a split dataset's --SEQ keeps the parent
                # prefix (LBCC carries LBSEQ)
                seq_domain=base_domain_code(code),
            )
        )
        if upper == "RELSUB":
            if dm is not None:
                report = report.unionByName(rsubjid_not_in_dm(df, dm, code))
            report = report.unionByName(relsub_not_bidirectional(df, code))
        if upper == "RELSPEC":
            report = report.unionByName(relspec_invalid_parents(df, code))
        if upper == "RELREC":
            key_frames = {
                c: f for c, f in frames.items()
                if c.upper() not in ("RELREC", "RELSUB", "RELSPEC")
            }
            if key_frames:
                report = report.unionByName(
                    relrec_invalid_references(df, melt_domain_keys(key_frames), code)
                )
    return report


def export_study(
    study: Study,
    frames: dict[str, DataFrame],
    out_dir: str,
    fmt: str = "xpt",
    bypass_validation: bool = False,
) -> dict[str, str]:
    """Validate-gate then write every domain + define.xml.

    Returns {artifact name: path}. ``fmt`` is ``"xpt"`` or ``"xml"``
    (Dataset-XML). Errors block export unless ``bypass_validation``
    (reference: export.rs:139-168); validation runs only to decide
    that, so a bypassed export launches no validation job.
    """
    if fmt not in ("xpt", "xml"):
        raise ValueError(f"fmt must be 'xpt' or 'xml'; got {fmt!r}")
    for code, df in frames.items():
        _pin(study, code, df)
    if not bypass_validation:
        report = validate_study(study, frames)
        n_errors = report.filter(F.col("severity") == "Error").count()
        if n_errors:
            raise ValueError(
                f"validation reported {n_errors} error issue(s); export blocked"
            )
    os.makedirs(out_dir, exist_ok=True)

    written: dict[str, str] = {}
    define_datasets: list[DefineDataset] = []
    observed: dict[str, dict[str, int]] = {}
    for code in sorted(frames):  # O1: dataset-name order
        df = frames[code]
        base = base_domain_code(code)
        variables = study.domains.get(code) or DOMAINS.get(base, {}).get(
            "variables", []
        )
        present = [v for v in variables if v["name"] in df.columns]
        # one scan per domain serves the XPT lengths and define.xml
        lengths = max_observed_length(df, [v["name"] for v in present])
        observed[code] = lengths
        if fmt == "xpt":
            xvars = [
                XptVariable(
                    v["name"],
                    v.get("label", ""),
                    v.get("data_type", "Char") == "Num",
                    lengths[v["name"]],
                )
                for v in present
            ]
            path = os.path.join(out_dir, f"{code.lower()}.xpt")
            # SAS member name: the DATASET name (8-char cap), label
            # from the base domain (reference dataset_name() /
            # base_domain_code(), export/types.rs:47-68)
            write_xpt(
                df.select(*[v["name"] for v in present]),
                path,
                xvars,
                code[:8],
                DOMAINS.get(base, {}).get("label", code),
            )
        else:
            path = os.path.join(out_dir, f"{code.lower()}.xml")
            write_dataset_xml(df, path, code, f"{study.study_id}.STUDY")
        written[code] = path
        define_datasets.append(
            DefineDataset(
                domain=code,
                base_domain=base,
                label=DOMAINS.get(base, {}).get("label", code),
                structure=DOMAINS.get(base, {}).get("structure", ""),
                variables=[
                    DefineVariable(
                        v["name"],
                        v.get("label", ""),
                        "float" if v.get("data_type") == "Num" else "text",
                        v.get("length"),
                        f"CL.{v['codelist_code']}" if v.get("codelist_code") else None,
                        v.get("core") == "Req",
                        core=v.get("core", ""),
                        role=v.get("role", ""),
                    )
                    for v in present
                ],
            )
        )
    # CT standard reference + codelist names/terms/extensibility from
    # the shipped catalog (reference define_xml.rs:195-216, 311-330)
    from trial_submission_studio_spark.standards.ct_catalog import builtin_ct_versions

    versions = builtin_ct_versions()
    ct_version = max(versions)
    catalog = versions[ct_version]
    referenced = {
        v.codelist_oid
        for ds in define_datasets
        for v in ds.variables
        if v.codelist_oid
    }
    cl_terms: dict[str, list[tuple[str, str]]] = {}
    cl_meta: dict[str, dict] = {}
    for oid in referenced:
        cl = catalog.get(oid.removeprefix("CL."))
        if cl is None:
            continue
        cl_terms[oid] = [
            (t.submission_value, t.synonyms[0] if t.synonyms else t.submission_value)
            for t in cl.terms
        ]
        cl_meta[oid] = {"name": cl.name, "extensible": cl.extensible}
    define_path = os.path.join(out_dir, "define.xml")
    write_define_xml(
        define_path,
        f"{study.study_id}.STUDY",
        define_datasets,
        observed,
        codelists=cl_terms,
        ct_version=ct_version,
        codelist_meta=cl_meta,
    )
    written["define"] = define_path
    return written


def build_supp(
    study: Study, code: str, out_frame: DataFrame, qorig: str = "CRF"
) -> DataFrame | None:
    """SUPP-- frame from the unmapped source columns (R1)."""
    code = code.upper()
    table = study.sources[code]
    st = study.mappings[code]
    # accepted-only, matching the build path (reference
    # domain_state.rs:259-272 unmapped_columns() filters all_accepted())
    mapped_cols = set(st.accepted_mappings().values())
    supp_cols = [
        c for c in table.columns if c not in mapped_cols and c != SourceTable.ROW_ID
    ]
    if not supp_cols:
        return None
    subj_src = st.source.get("SUBJID") or st.source.get("USUBJID")
    if subj_src is None:
        return None
    from trial_submission_studio_spark.functions import usubjid_prefix

    src_df = table.df.withColumn(
        "__usubjid", usubjid_prefix(F.col(subj_src), study.study_id)
    )
    return supp_unpivot(
        src_df,
        supp_cols,
        study.study_id,
        code,
        usubjid_col="__usubjid",
        qlabels=table.labels,
        qorig=qorig,
    )
