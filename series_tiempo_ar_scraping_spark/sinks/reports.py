"""K4/K5/K6 — the pass's report rows, report writers and notification
composition.

As the reference does in pandas (``base.py:873-915,1007-1043``), the
reports are built on the driver, the EP1 data-contract report too: from
the status events, V4 series rows and metadata-error rows a pass
collects once, a few dozen rows. Each report splits by catalog and
writes as XLSX through the stdlib OOXML writer (``base.py:679-703``);
mail (``base.py:707-743,836-871``) is composed by
pure functions over the indicator rows and sent dry-run by default.
"""

from __future__ import annotations

import datetime as _dt
import os
from collections import Counter, namedtuple
from decimal import ROUND_HALF_UP, Decimal

from series_tiempo_ar_scraping_spark.config import (
    STATUS_ERROR,
    STATUS_OK,
    STATUS_ORDER,
)

# the report rows of a pass, catalog-keyed; the workbook columns are
# the fields after ``catalog_id`` (all of them for the metadata errors)
MetadataError = namedtuple(
    "MetadataError", "entity catalog_id dataset_id distribution_id rule"
)
DatasetStatus = namedtuple(
    "DatasetStatus", "catalog_id dataset_identifier dataset_status"
)
DistributionStatus = namedtuple(
    "DistributionStatus",
    "catalog_id dataset_identifier distribution_identifier distribution_status",
)
Indicators = namedtuple(
    "Indicators",
    "catalog_id datasets datasets_ok datasets_error distributions "
    "distributions_ok distributions_error distributions_percentage",
)
# V4: one row per series, as the pass collects them
SeriesStatus = namedtuple(
    "SeriesStatus",
    "catalog_id dataset_id distribution_id series_status series_id "
    "n_obs n_null_ts",
)
# EP1: one row per (catalog, contract), the reporte-expectations columns
ContractCheck = namedtuple(
    "ContractCheck",
    "catalog_id table_name column_name check n_rows n_violations passed",
)
_RANK = {s: i for i, s in enumerate(STATUS_ORDER)}


def split_by_catalog(
    columns: list[str], rows: list[tuple], keep_id: bool = False
) -> tuple[list[str], dict[str, list[tuple]]]:
    """Split rows by their ``catalog_id`` column: ``(columns,
    {catalog_id: [row tuples]})``, with the ``catalog_id`` column dropped
    unless ``keep_id``. Catalogs without rows are absent."""
    cols = list(columns)
    at = cols.index("catalog_id")
    out: dict[str, list[tuple]] = {}
    for r in rows:
        t = tuple(r)
        out.setdefault(t[at], []).append(
            t if keep_id else t[:at] + t[at + 1:]
        )
    return (cols if keep_id else cols[:at] + cols[at + 1:]), out


def dataset_report(
    datasets: list, errors: list[MetadataError]
) -> tuple[list[DatasetStatus], list]:
    """V3 report rows for every dataset, in order (``base.py:443-451``),
    and the F1-harvested dataset rows (``base.py:455-463``): a dataset
    is ERROR and not harvested when a metadata error names its
    (catalog, dataset) key. A catalog-level error names no dataset, not
    even one whose id is null."""
    bad = {
        (e.catalog_id, e.dataset_id) for e in errors if e.dataset_id is not None
    }
    report, harvested = [], []
    for d in datasets:
        ok = (d.catalog_id, d.dataset_id) not in bad
        report.append(DatasetStatus(
            d.catalog_id, d.dataset_id, STATUS_OK if ok else STATUS_ERROR
        ))
        if ok:
            harvested.append(d)
    return report, harvested


def distribution_report(events: list[tuple]) -> list[DistributionStatus]:
    """Roll status events ``(catalog_id, dataset_id, distribution_id,
    status)`` up to one status per distribution, worst first, sorted by
    status in ``STATUS_ORDER`` then distribution id (O1, ``base.py:903-913``; the
    reference's order within a status is pandas-stable-sort incidental,
    SURVEY §7 hard part (c))."""
    worst: dict[tuple, int] = {}
    for *key, status in events:
        rank = _RANK[status]
        worst[tuple(key)] = min(worst.get(tuple(key), rank), rank)
    return sorted(
        (DistributionStatus(*k, STATUS_ORDER[r]) for k, r in worst.items()),
        key=lambda d: (_RANK[d.distribution_status], d.distribution_identifier),
    )


def series_events(
    routed: list[tuple], series: list[SeriesStatus]
) -> list[tuple]:
    """V4 status events ``(catalog_id, dataset_id, distribution_id,
    status)``: each routed distribution's series statuses, or one ERROR
    when it has none (it yielded no observations: the reference's
    per-distribution try/except would have caught the processor failure,
    V7 ``base.py:198-207``). Keys match as in a SQL join, so a key with a
    null part matches no series."""
    statuses: dict[tuple, list[str]] = {}
    for s in series:
        statuses.setdefault(tuple(s[:3]), []).append(s.series_status)
    return [
        (*k, status)
        for k in routed
        for status in (None not in k and statuses.get(k)) or [STATUS_ERROR]
    ]


# (column, check) of each EP1 contract on a table, in report order
_OBSERVATION_CONTRACTS = (
    ("distribution_id", "not_null"),
    ("series_id", "not_null"),
    ("ts", "not_null"),
)
_DATASET_CONTRACTS = (
    ("dataset_identifier", "not_null"),
    ("dataset_status", "accepted_values"),
)


def contract_rows(
    series: list[SeriesStatus], datasets: list[DatasetStatus]
) -> list[ContractCheck]:
    """EP1 — the default data contracts over the pass's own outputs, per
    catalog: every scraped observation carries its routing ids and a time
    index, and the dataset report's status enum stays closed. The
    observation counts come from the V4 rows, which group every
    observation (null keys included) by series: ``n_rows`` is their
    ``n_obs`` sum, a null ``distribution_id`` or ``series_id`` costs its
    group's ``n_obs``, a null ``ts`` is counted in ``n_null_ts``. A
    catalog reports on a table only when it has rows in it; within a
    catalog the observation contracts come first."""
    obs: dict[str, list[int]] = {}
    for s in series:
        c = obs.setdefault(s.catalog_id, [0, 0, 0, 0])
        c[0] += s.n_obs
        c[1] += s.n_obs if s.distribution_id is None else 0
        c[2] += s.n_obs if s.series_id is None else 0
        c[3] += s.n_null_ts
    ds: dict[str, list[int]] = {}
    for d in datasets:
        c = ds.setdefault(d.catalog_id, [0, 0, 0])
        c[0] += 1
        c[1] += d.dataset_identifier is None
        c[2] += d.dataset_status not in (None, STATUS_OK, STATUS_ERROR)
    out = []
    for cid in dict.fromkeys([*obs, *ds]):
        for table, counts, contracts in (
            ("observations", obs.get(cid), _OBSERVATION_CONTRACTS),
            ("dataset_report", ds.get(cid), _DATASET_CONTRACTS),
        ):
            if counts:
                n, *violations = counts
                out.extend(
                    ContractCheck(cid, table, col, check, n, v, int(v == 0))
                    for (col, check), v in zip(contracts, violations)
                )
    return out


def ok_percentage(ok: int, n: int) -> float:
    """A4 — ``100 * ok / n`` to 3 places, as Spark's ``round`` gives it:
    HALF_UP on the double's shortest decimal form (Python's ``round``
    is half-even on the binary value)."""
    x = Decimal(repr(100.0 * ok / n))
    return float(x.quantize(Decimal("0.001"), ROUND_HALF_UP))


def indicator_records(
    datasets: list[DatasetStatus], distributions: list[DistributionStatus]
) -> list[Indicators]:
    """A5 — the 7-metric indicator record (``base.py:1007-1018``) per
    catalog. A catalog gets a record only when it has distribution rows;
    one without dataset rows reads ``datasets`` 0 and no dataset status
    counts."""
    ds: dict[str, Counter] = {}
    for d in datasets:
        ds.setdefault(d.catalog_id, Counter())[d.dataset_status] += 1
    dist: dict[str, Counter] = {}
    for d in distributions:
        dist.setdefault(d.catalog_id, Counter())[d.distribution_status] += 1
    out = []
    for cid, n in dist.items():
        c = ds.get(cid)
        out.append(Indicators(
            cid,
            c.total() if c else 0,
            c[STATUS_OK] if c else None,
            c[STATUS_ERROR] if c else None,
            n.total(),
            n[STATUS_OK],
            n[STATUS_ERROR],
            ok_percentage(n[STATUS_OK], n.total()),
        ))
    return out


def write_report_xlsx(
    report: tuple[list[str], list[tuple]], out_dir: str, name: str
) -> str:
    """K4 XLSX variant — parity with ``reporte-datasets.xlsx`` /
    ``reporte-distributions.xlsx`` (``base.py:679-703``), via the stdlib
    OOXML writer (``sources/xlsx.py``). ``report`` is the collected
    ``(columns, rows)`` of one sheet named ``name``."""
    from series_tiempo_ar_scraping_spark.sources import xlsx

    return xlsx.write_xlsx(os.path.join(out_dir, f"{name}.xlsx"), {name: report})


def build_subject(catalog_id: str, stage: str, environment: str,
                  now: _dt.datetime | None = None) -> str:
    """X7/X9 — '[env] catalog - stage: DD/MM/YYYY HH:mm' with the env tag
    dropped on prod (``base.py:863-871``)."""
    now = now or _dt.datetime.now()
    stamp = now.strftime("%d/%m/%Y %H:%M")
    # exact match: a substring test would strip the tag from 'preprod'
    # and make its mail indistinguishable from production mail
    prefix = "" if environment == "prod" else f"[{environment}] "
    return f"{prefix}{catalog_id} - {stage}: {stamp}"


def build_message(indicators: dict) -> str:
    """Indicator summary body (``base.py:836-861`` message shape)."""
    lines = [f"{k}: {v}" for k, v in indicators.items()]
    return "\n".join(lines)


# Per-stage attachment manifests (reference GROUP_CONFIGS, base.py:43-61):
# extraction mail carries the metadata-errors + datasets reports, scraping
# mail the datasets + distributions reports. Names are this engine's
# report basenames (main.py writes them per catalog under reports/<id>/).
STAGE_ATTACHMENTS = {
    "extraccion": ("reporte-errores-metadata", "reporte-datasets"),
    # reporte-expectations extends the reference manifest (EP1): the
    # data-contract violations belong with the scraping results whose
    # frames they audit, not the metadata-validation mail.
    "scraping": (
        "reporte-datasets",
        "reporte-distributions",
        "reporte-expectations",
    ),
}
# config_email.yaml stage key → human subject label (base.py:859-862:
# get_validation_mail_subject / get_scraping_mail_subject).
STAGE_LABELS = {"extraccion": "Validación", "scraping": "Scraping"}


def send_group_email(
    catalog_id: str,
    stage: str,
    email_config: dict | None,
    message: str,
    report_files: list[str],
    environment: str = "dev",
    dry_run: bool = True,
    now: _dt.datetime | None = None,
    log=None,
) -> dict | None:
    """K6 orchestration — one per-catalog stage email, reference
    ``send_validation_group_email`` / ``send_scraping_group_email``
    (``base.py:745-817``). ``email_config`` is the parsed
    ``config_email.yaml``: ``{mailer: {...}, extraccion: {catalog_id:
    {destinatarios: [...]}}, scraping: {...}}``. Skips with a warning —
    returning ``None``, never raising — when the stage has no entry for
    this catalog or the entry has no recipients (``base.py:750-756,
    767-770``). Attachments are filtered to this stage's manifest
    (``STAGE_ATTACHMENTS``) and to files that exist on disk
    (``base.py:725-727`` warns on missing files)."""
    import logging

    log = log or logging.getLogger(__name__)
    stage_cfg = (email_config or {}).get(stage) or {}
    if catalog_id not in stage_cfg:
        log.warning(
            "no email config for catalog %s stage %s; skipping",
            catalog_id, stage,
        )
        return None
    recipients = (stage_cfg.get(catalog_id) or {}).get("destinatarios") or []
    if not recipients:
        log.warning(
            "no recipients for catalog %s stage %s; skipping",
            catalog_id, stage,
        )
        return None
    wanted = STAGE_ATTACHMENTS[stage]
    attachments = []
    for path in report_files:
        base = os.path.splitext(os.path.basename(path))[0]
        if base not in wanted:
            continue
        if not os.path.isfile(path):
            log.warning("report file %s does not exist; not attached", path)
            continue
        attachments.append(path)
    subject = build_subject(
        catalog_id, STAGE_LABELS[stage], environment, now=now
    )
    return send_email(
        subject,
        message,
        recipients,
        attachments,
        smtp_config=(email_config or {}).get("mailer"),
        dry_run=dry_run,
    )


def build_validation_message(catalog_id: str, n_metadata_errors: int) -> str:
    """Validation-stage body. NOTE: the reference's
    ``generate_validation_message`` (``base.py:840-848``) has its
    conditional inverted (valid → "tiene errores"); this implements the
    evident intent, keyed on the actual metadata-error count."""
    if n_metadata_errors:
        return (
            f"El catálogo '{catalog_id}' tiene errores "
            f"({n_metadata_errors})."
        )
    return f"El catálogo '{catalog_id}' no tiene errores."


def send_email(subject: str, message: str, recipients: list[str],
               attachments: list[str] | None = None,
               smtp_config: dict | None = None, dry_run: bool = True) -> dict:
    """K6 — SMTP send (``base.py:707-743``). ``dry_run`` (default) returns
    the composed mail instead of touching the network; real send uses
    stdlib smtplib with SSL/STARTTLS per config."""
    mail = {
        "subject": subject,
        "message": message,
        "recipients": recipients,
        "attachments": attachments or [],
    }
    if dry_run or not smtp_config:
        return mail
    import smtplib  # pragma: no cover - needs a live SMTP endpoint
    from email.mime.application import MIMEApplication
    from email.mime.multipart import MIMEMultipart
    from email.mime.text import MIMEText

    # The reference's config_email.yaml mailer block spells the endpoint
    # 'smtp_server' and identifies the sender via 'user' (base.py:710,731;
    # tests/project/config/config_email.yaml) — accept both that spelling
    # and the plainer host/from used by this engine's docs.
    sender = (
        smtp_config.get("from") or smtp_config.get("user") or "etl@localhost"
    )
    msg = MIMEMultipart()  # pragma: no cover
    msg["Subject"] = subject
    msg["From"] = sender
    msg["To"] = ", ".join(recipients)
    msg.attach(MIMEText(message))
    for path in attachments or []:  # the reference attaches the reports
        with open(path, "rb") as fh:  # (base.py:707-743)
            part = MIMEApplication(fh.read())
        part.add_header(
            "Content-Disposition",
            "attachment",
            filename=os.path.basename(path),
        )
        msg.attach(part)
    host = smtp_config.get("host") or smtp_config["smtp_server"]
    port = int(smtp_config.get("port", 465))
    cls = smtplib.SMTP_SSL if smtp_config.get("ssl", True) else smtplib.SMTP
    with cls(host, port) as server:
        if not smtp_config.get("ssl", True):
            server.starttls()
        if smtp_config.get("user"):
            server.login(smtp_config["user"], smtp_config["password"])
        server.sendmail(sender, recipients, msg.as_string())
    return mail  # pragma: no cover
