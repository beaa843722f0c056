"""Define-XML 2.1 writer — K3 (SURVEY.md §2.1).

Reference behavior (tss-submit/src/export/define_xml.rs:73-467): a
study-level metadata document with one ItemGroupDef per dataset and
one ItemDef per variable; Char lengths come from the *observed* data
(max trimmed length), plus a has-data flag; codelists referenced by
OID.

A pure format writer: the caller passes each dataset's observed
right-trimmed lengths (one aggregate per domain,
:func:`~trial_submission_studio_spark.operators.profiling.max_observed_length`,
shared with the XPT writer), and everything here is driver-side
templating over schema-sized metadata.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from xml.sax.saxutils import quoteattr


@dataclass
class ValueLevelItem:
    """One value-level metadata slice of a parent variable (Define-XML
    2.1 ValueListDef/WhereClauseDef): the parent's type/length/codelist
    WHERE ``where_var`` takes one of ``where_values`` — e.g. QSORRES is
    integer 0-4 where QSTESTCD = 'PGA01'. Beyond the reference's
    writer (it emits no value-level metadata)."""

    name: str  # slice name, e.g. "PGA01"
    where_var: str  # controlling variable, e.g. "QSTESTCD"
    where_values: list[str] = field(default_factory=list)
    data_type: str = "text"
    length: int | None = None
    label: str = ""
    codelist_oid: str | None = None


@dataclass
class DefineVariable:
    name: str
    label: str = ""
    data_type: str = "text"  # define-xml datatype
    length: int | None = None
    codelist_oid: str | None = None
    mandatory: bool = False
    core: str = ""  # Req | Exp | Perm (drives def:Origin)
    role: str = ""  # Identifier -> ItemRef KeySequence
    value_list: list[ValueLevelItem] = field(default_factory=list)


@dataclass
class DefineDataset:
    domain: str  # dataset name (LBCC for a split dataset)
    label: str = ""
    structure: str = ""
    variables: list[DefineVariable] = field(default_factory=list)
    #: parent domain for split datasets (LBCC → LB); empty = same as
    #: ``domain`` (reference define_xml.rs:220-229 emits Name=dataset
    #: name, Domain=base code)
    base_domain: str = ""


def write_define_xml(
    path: str,
    study_oid: str,
    datasets: list[DefineDataset],
    observed: dict[str, dict[str, int]],
    study_name: str = "",
    ig_version: str = "SDTM-IG 3.4",
    codelists: dict[str, list[tuple[str, str]]] | None = None,
    ct_version: str | None = None,
    codelist_meta: dict[str, dict] | None = None,
) -> None:
    """``observed``: dataset name → {column: max right-trimmed length}
    over the columns the dataset carries; variables outside it are
    skipped. A column's ``Length`` is ``max(n, 1)`` and it has data
    when ``n > 0``.

    ``codelists``: CodeList OID → [(coded value, decode), ...];
    referenced OIDs without an entry are emitted as external refs.

    Reference-parity extras (export/define_xml.rs:195-330):

    - ``ct_version``: emits a ``def:Standards`` section with one
      ``def:Standard`` (OID ``STD.CT.SDTM.{version}``) and stamps
      every CodeList with ``def:StandardOID``.
    - ``codelist_meta``: OID → ``{"name": ..., "extensible": bool}``
      for CodeList names and ``def:Extensible``.
    - ItemRefs of Identifier-role variables get ``KeySequence``.
    - ItemDefs carry ``def:Origin``: "Not Available" for an Expected
      variable with no data, "Collected" when data exists, else
      "Derived" (the not-collected annotation).
    """
    q = quoteattr
    lines: list[str] = []
    lines.append('<?xml version="1.0" encoding="UTF-8"?>')
    lines.append(
        '<ODM xmlns="http://www.cdisc.org/ns/odm/v1.3" '
        'xmlns:def="http://www.cdisc.org/ns/def/v2.1" ODMVersion="1.3.2" '
        f'FileType="Snapshot" FileOID={q(f"{study_oid}.define")}>'
    )
    lines.append(f" <Study OID={q(study_oid)}>")
    lines.append("  <GlobalVariables>")
    lines.append(f"   <StudyName>{study_name or study_oid}</StudyName>")
    lines.append(f"   <StudyDescription>{study_name or study_oid}</StudyDescription>")
    lines.append(f"   <ProtocolName>{study_name or study_oid}</ProtocolName>")
    lines.append("  </GlobalVariables>")
    lines.append(
        f'  <MetaDataVersion OID="MDV.1" Name={q(ig_version)} '
        f'def:DefineVersion="2.1.0">'
    )
    std_oid = None
    if ct_version:
        std_oid = f"STD.CT.SDTM.{ct_version}"
        lines.append("   <def:Standards>")
        lines.append(
            f'    <def:Standard OID={q(std_oid)} Name="CDISC/NCI" Type="CT" '
            f'PublishingSet="SDTM" Version={q(ct_version)} Status="Final"/>'
        )
        lines.append("   </def:Standards>")

    # Define-XML 2.1 element order: ValueListDefs then WhereClauseDefs
    # precede the ItemGroupDefs
    vl_lines: list[str] = []
    wc_lines: list[str] = []
    vl_item_defs: list[str] = []
    for ds in datasets:
        dom = ds.domain.upper()
        for v in ds.variables:
            if not v.value_list:
                continue
            vl_oid = f"VL.{dom}.{v.name}"
            vl_lines.append(f"   <def:ValueListDef OID={q(vl_oid)}>")
            for i, it in enumerate(v.value_list):
                it_oid = f"IT.{dom}.{v.name}.{it.name}"
                wc_oid = f"WC.{dom}.{v.name}.{it.name}"
                vl_lines.append(
                    f'    <ItemRef ItemOID={q(it_oid)} OrderNumber="{i + 1}" '
                    'Mandatory="No">'
                )
                vl_lines.append(f"     <def:WhereClauseRef WhereClauseOID={q(wc_oid)}/>")
                vl_lines.append("    </ItemRef>")
                wc_lines.append(f"   <def:WhereClauseDef OID={q(wc_oid)}>")
                comparator = "EQ" if len(it.where_values) == 1 else "IN"
                wc_lines.append(
                    f'    <RangeCheck Comparator={q(comparator)} SoftHard="Soft" '
                    f'def:ItemOID={q(f"IT.{dom}.{it.where_var}")}>'
                )
                for wv in it.where_values:
                    wc_lines.append(f"     <CheckValue>{wv}</CheckValue>")
                wc_lines.append("    </RangeCheck>")
                wc_lines.append("   </def:WhereClauseDef>")
                len_attr = f' Length="{it.length}"' if it.length else ""
                vl_item_defs.append(
                    f"   <ItemDef OID={q(it_oid)} Name={q(it.name)} "
                    f"DataType={q(it.data_type)}{len_attr}>"
                )
                vl_item_defs.append(
                    "    <Description><TranslatedText>"
                    f"{it.label or it.name}</TranslatedText></Description>"
                )
                if it.codelist_oid:
                    vl_item_defs.append(
                        f"    <CodeListRef CodeListOID={q(it.codelist_oid)}/>"
                    )
                vl_item_defs.append("   </ItemDef>")
            vl_lines.append("   </def:ValueListDef>")
    lines.extend(vl_lines)
    lines.extend(wc_lines)

    item_defs: list[str] = []
    for ds in datasets:
        dom = ds.domain.upper()
        lengths = observed.get(dom, {})
        present = [v for v in ds.variables if v.name in lengths]
        base = (ds.base_domain or dom).upper()
        lines.append(
            f'   <ItemGroupDef OID={q(f"IG.{dom}")} Name={q(dom)} Domain={q(base)} '
            f'Repeating="Yes" IsReferenceData="No" SASDatasetName={q(dom[:8])} '
            f'def:Structure={q(ds.structure)} Purpose="Tabulation">'
        )
        lines.append(f"    <Description><TranslatedText>{ds.label or dom}</TranslatedText></Description>")
        key_seq = 1
        for i, v in enumerate(present):
            key_attr = ""
            if v.role.lower() == "identifier":
                key_attr = f' KeySequence="{key_seq}"'
                key_seq += 1
            lines.append(
                f'    <ItemRef ItemOID={q(f"IT.{dom}.{v.name}")} OrderNumber="{i + 1}" '
                f'Mandatory={q("Yes" if v.mandatory else "No")}{key_attr}/>'
            )
        lines.append("   </ItemGroupDef>")
        for v in present:
            length = lengths[v.name]
            has = length > 0
            if v.data_type in ("float", "integer"):
                len_attr = ""
            else:
                len_attr = f' Length="{v.length or max(length, 1)}"'
            item = (
                f'   <ItemDef OID={q(f"IT.{dom}.{v.name}")} Name={q(v.name)} '
                f'DataType={q(v.data_type)}{len_attr} def:HasNoData'
                f'={q("No" if has else "Yes")}>'
            )
            item_defs.append(item)
            item_defs.append(
                f"    <Description><TranslatedText>{v.label or v.name}</TranslatedText></Description>"
            )
            if v.codelist_oid:
                item_defs.append(f'    <CodeListRef CodeListOID={q(v.codelist_oid)}/>')
            if v.value_list:
                item_defs.append(
                    f'    <def:ValueListRef ValueListOID={q(f"VL.{dom}.{v.name}")}/>'
                )
            # Define-XML 2.1 OriginTypes subset used by the reference:
            # Expected-without-data -> "Not Available" (the not-collected
            # annotation); data present -> "Collected"; else "Derived"
            if v.core.lower() == "exp" and not has:
                origin = "Not Available"
            elif has:
                origin = "Collected"
            else:
                origin = "Derived"
            item_defs.append(f'    <def:Origin Type={q(origin)}/>')
            item_defs.append("   </ItemDef>")
    lines.extend(item_defs)
    lines.extend(vl_item_defs)
    # CodeList elements for every referenced OID (incl. value-level)
    referenced = {
        v.codelist_oid
        for ds in datasets
        for v in ds.variables
        if v.codelist_oid
    } | {
        it.codelist_oid
        for ds in datasets
        for v in ds.variables
        for it in v.value_list
        if it.codelist_oid
    }
    for oid in sorted(referenced):
        terms = (codelists or {}).get(oid)
        meta = (codelist_meta or {}).get(oid, {})
        name = meta.get("name") or oid.removeprefix("CL.")
        extra = ""
        if std_oid:
            extra += f" def:StandardOID={q(std_oid)}"
        if meta.get("extensible"):
            extra += ' def:Extensible="Yes"'
        lines.append(
            f'   <CodeList OID={q(oid)} Name={q(name)} DataType="text"{extra}>'
        )
        for value, decode in terms or []:
            lines.append(f"    <CodeListItem CodedValue={q(value)}>")
            lines.append(
                f"     <Decode><TranslatedText>{decode or value}</TranslatedText></Decode>"
            )
            lines.append("    </CodeListItem>")
        lines.append("   </CodeList>")
    lines.append("  </MetaDataVersion>")
    lines.append(" </Study>")
    lines.append("</ODM>")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
