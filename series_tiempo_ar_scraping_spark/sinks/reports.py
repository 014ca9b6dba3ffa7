"""K4/K5/K6 — report writers and notification composition.

The reference writes XLSX reports (``base.py:679-703``) and sends SMTP
mail with attachments (``base.py:707-743``); subjects/messages are built
at ``base.py:836-871``. Here: each report frame is collected once for a
whole pass and split by catalog, each catalog's sheet writes as XLSX
through the stdlib OOXML writer, mail composition is pure functions over
the indicator rows, and the SMTP send is a driver-side callable that
defaults to dry-run (no network in the data plane).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame


def split_by_catalog(
    df: DataFrame, keep_id: bool = False
) -> tuple[list[str], dict[str, list[tuple]]]:
    """Collect a small frame once and split its rows by ``catalog_id``:
    ``(columns, {catalog_id: [row tuples]})``, with the ``catalog_id``
    column dropped unless ``keep_id``. Catalogs without rows are absent."""
    cols = df.columns
    at = cols.index("catalog_id")
    rows: dict[str, list[tuple]] = {}
    for r in df.collect():
        t = tuple(r)
        rows.setdefault(t[at], []).append(
            t if keep_id else t[:at] + t[at + 1:]
        )
    return (cols if keep_id else cols[:at] + cols[at + 1:]), rows


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
