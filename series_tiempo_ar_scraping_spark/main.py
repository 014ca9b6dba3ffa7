"""EP1 CLI — parity with the reference's ``etl`` console script
(``main.py:40-73``): run the full pipeline over an ``index.yaml`` of
catalogs with the same flag surface, as one pass whose report rows
``run_etl`` splits by catalog into per-catalog workbooks (K4/K5).

S9 config readers are here too (``main.py:15-20``, ``base.py:1098-1109``):
YAML index + general config, plain dicts on the driver.
"""

from __future__ import annotations

import json
import logging
import os

import click

from series_tiempo_ar_scraping_spark.session import get_spark


def read_config(path: str) -> dict:
    """S9 — YAML config reader (``main.py:15-20``)."""
    import yaml

    with open(path) as fh:
        return yaml.safe_load(fh) or {}


def run_etl(
    index: dict,
    output_dir: str,
    spark=None,
    replace: bool = True,
    catalog_id_filter: str | None = None,
    distribution_id_filter: str | None = None,
    metadata_only: bool = False,
    host: str = "http://localhost",
    file_resolver=None,
    interactive: bool = False,
    download_config: dict | None = None,
    email_config: dict | None = None,
    environment: str = "dev",
    email_dry_run: bool = True,
) -> dict:
    """Run every catalog in the index; returns per-catalog summaries.

    ``index`` shape (reference ``index.yaml``): {catalog_id: {metadata_url|
    metadata_path, formato}}. The reference loops the catalogs one at a
    time (``base.py:1111-1116``); here each catalog's metadata is read on
    its own, then every catalog that loaded runs through ONE pipeline
    pass, so the Spark job count does not grow with the catalog count.
    A catalog whose metadata fails to load gets its own ``error`` entry
    (V7 at catalog level). Inside the pass, a bad input file costs its
    distribution one ERROR report row (V7 at distribution level). The
    pass runs once: should it still raise, every catalog in it gets an
    ``error`` entry, and no catalog runs twice. Every Spark job runs
    inside the pass: the reports, the EP1 contracts included, are Python
    over the rows it returns."""
    from series_tiempo_ar_scraping_spark.plans.pipeline import (
        CatalogPipeline,
        read_catalog,
    )
    from series_tiempo_ar_scraping_spark.sources.landing import download_to_file

    spark = spark or get_spark("etl")
    # interactive (reference --interactive, base.py:922-925): reuse any
    # already-landed file instead of re-downloading — the dev-iteration
    # mode, orthogonal to output `replace` (V8). download_config carries
    # proxies/verify/tries (reference download.py:13-50, base.py:963-976).
    dl_kw = dict(download_config or {})
    dl_replace = replace and not interactive
    if file_resolver is None:
        # Default resolver: remote source refs land under output/landing
        # (S2/S3); a failed download routes to the error channel (V7) by
        # resolving to None — the pipeline reports the distribution as
        # ERROR instead of crashing.
        def file_resolver(ref: str):
            if not ref.startswith(("http://", "https://")):
                return ref
            # landing path is namespaced by a hash of the FULL url, not
            # just its basename: two distributions whose urls share a
            # basename (data.csv on different hosts — common on portals)
            # must not overwrite each other's downloads (and the
            # catalogs of one pass share this landing dir).
            import hashlib

            bucket = hashlib.md5(ref.encode()).hexdigest()[:12]
            local = os.path.join(
                output_dir, "landing", "files", bucket,
                ref.rsplit("/", 1)[-1],
            )
            try:
                return download_to_file(
                    ref, local, replace=dl_replace, **dl_kw
                )
            except Exception:  # noqa: BLE001 — error channel, not crash
                return None

    def load_catalog(catalog_id: str, cfg: dict) -> dict:
        path = cfg.get("metadata_path")
        if not path and cfg.get("metadata_url"):
            landing = os.path.join(output_dir, "landing", f"{catalog_id}.json")
            path = download_to_file(
                cfg["metadata_url"], landing, replace=dl_replace, **dl_kw
            )
        return read_catalog(path, catalog_id)

    def process_pass(loaded: dict[str, dict]) -> dict[str, dict]:
        pipe = CatalogPipeline(
            spark,
            loaded,
            None,
            output_dir,
            file_resolver=file_resolver,
            host=host,
            distribution_id_filter=distribution_id_filter,
            replace=replace,
        )
        if metadata_only:
            # EP2 — per-catalog counts from the plan's local relations:
            # a collect of one column each, no Spark job
            frames = pipe.plan()
            counts = {cid: {"datasets": 0, "distributions": 0} for cid in loaded}
            for kind in ("datasets", "distributions"):
                for r in frames[kind].select("catalog_id").collect():
                    counts[r.catalog_id][kind] += 1
            return counts
        try:
            return report_pass(pipe.run(), loaded)
        finally:
            # the pass has written its outputs and its reports are
            # collected: free its cached frames, raised or not
            pipe.unpersist()

    def report_pass(res, loaded: dict[str, dict]) -> dict[str, dict]:
        from series_tiempo_ar_scraping_spark.sinks.reports import (
            ContractCheck,
            DatasetStatus,
            DistributionStatus,
            MetadataError,
            contract_rows,
            split_by_catalog,
            write_report_xlsx,
        )

        # The pass returns the report rows of every catalog; each report
        # splits by catalog_id here.
        indicators = {
            r.catalog_id: dict(zip(r._fields[1:], r[1:])) for r in res.indicators
        }
        # K4/K5 — per-catalog report workbooks next to the outputs
        # (reporte-datasets / reporte-distributions, base.py:679-703)
        # and the metadata validation errors export (the reference's
        # validate_catalog(only_errors, export_path), base.py:434-441).
        # The metadata-error rows also feed the validation-email error
        # count (small by V1-V3 contract — one row per rule violation);
        # that workbook keeps its own catalog_id column.
        reports = {
            "reporte-datasets": split_by_catalog(
                DatasetStatus._fields, res.dataset_report
            ),
            "reporte-errores-metadata": split_by_catalog(
                MetadataError._fields, res.metadata_errors, keep_id=True
            ),
            "reporte-distributions": split_by_catalog(
                DistributionStatus._fields, res.distribution_report
            ),
        }
        # EP1 — data contracts over the run's OWN outputs, per catalog,
        # from the V4 series rows and the dataset report: scraped
        # observations must carry routing ids + a time index, the
        # dataset-status enum stays closed. Violations export through
        # the same K4 channel as the other report workbooks and ride
        # the stage emails.
        reports["reporte-expectations"] = split_by_catalog(
            ContractCheck._fields,
            contract_rows(res.series_report, res.dataset_report),
        )

        out: dict[str, dict] = {}
        for cid in loaded:
            report_dir = os.path.join(output_dir, "reports", cid)
            # keyed by workbook name (the STAGE_ATTACHMENTS manifest
            # vocabulary), not list position — consumers must never
            # depend on append order (ADVICE r8). A catalog without
            # time-series distributions has no distribution report.
            report_files = {
                name: write_report_xlsx(
                    (cols, rows.get(cid, [])), report_dir, name
                )
                for name, (cols, rows) in reports.items()
                if name != "reporte-distributions" or cid in rows
            }
            c_cols, c_rows = reports["reporte-expectations"]
            at = c_cols.index("n_violations")
            prefix = os.path.join(output_dir, "catalog", cid) + os.sep
            out[cid] = {
                "indicators": indicators.get(cid, {}),
                "written": sum(
                    1 for p in res.written_files if p.startswith(prefix)
                ),
                "reports": report_files,
                "metadata_error_count": len(
                    reports["reporte-errores-metadata"][1].get(cid, [])
                ),
                "contract_violations": sum(
                    r[at] for r in c_rows.get(cid, [])
                ),
            }
        return out

    entries = [
        (catalog_id, cfg)
        for catalog_id, cfg in index.items()
        # config entries living beside flat catalog indexes; F4 filter
        # applied before any download (base.py:1088-1090)
        if catalog_id != "download_config"
        and isinstance(cfg, dict)
        and not (catalog_id_filter and catalog_id != catalog_id_filter)
    ]
    results: dict = {}
    loaded: dict[str, dict] = {}
    for cid, cfg in entries:
        try:
            loaded[cid] = load_catalog(cid, cfg)
        except Exception as exc:  # noqa: BLE001 — V7: isolate catalogs
            results[cid] = {"error": repr(exc)}

    if loaded:
        try:
            results.update(process_pass(loaded))
        except Exception as exc:  # noqa: BLE001 — V7: the run goes on
            results.update({cid: {"error": repr(exc)} for cid in loaded})
    results = {cid: results[cid] for cid, _cfg in entries}

    # K6 — per-catalog stage emails (reference base.py:1058-1066 sends
    # validation mail after extraction of every catalog, base.py:1121-1130
    # scraping mail after scraping of every catalog; this engine's
    # pass runs both phases for every catalog, so the two stage
    # batches go out after the pass, preserving the reference's
    # ordering: all 'extraccion' mails, then all 'scraping' mails).
    # Skip-with-warning semantics live in send_group_email; a catalog
    # that failed or ran metadata-only sends nothing.
    if email_config is not None:
        from series_tiempo_ar_scraping_spark.sinks.reports import (
            build_message,
            build_validation_message,
            send_group_email,
        )

        for stage, body in (
            ("extraccion",
             lambda cid, r: build_validation_message(
                 cid, r.get("metadata_error_count", 0))),
            ("scraping",
             lambda cid, r: build_message(r.get("indicators", {}))),
        ):
            for cid, r in results.items():
                if "reports" not in r:
                    continue
                # One bad SMTP endpoint must not discard the run's
                # results: the reference logs and continues on any send
                # error (base.py:738-743). Skip paths return None inside
                # send_group_email; network/protocol errors land here.
                try:
                    mail = send_group_email(
                        cid,
                        stage,
                        email_config,
                        body(cid, r),
                        list(r["reports"].values()),
                        environment=environment,
                        dry_run=email_dry_run,
                    )
                except Exception as exc:  # noqa: BLE001 — V7 error channel
                    logging.getLogger(__name__).warning(
                        "email send failed for catalog %s stage %s: %r",
                        cid, stage, exc,
                    )
                    r.setdefault("email_errors", []).append(repr(exc))
                    continue
                if mail is not None:
                    r.setdefault("emails", []).append(
                        dict(mail, stage=stage)
                    )
    return results


def run_custom_steps(output_dir: str, script_path: str,
                     extra_env: dict | None = None) -> int:
    """K9 — post-ETL user hook: run a shell script over the output dir
    (``Makefile:14-15``, ``config/custom_steps.example.sh`` — e.g. rsync
    outputs to a webroot). Driver-side by design; returns the exit code."""
    import subprocess

    env = dict(os.environ, OUTPUT_DIR=os.path.abspath(output_dir))
    env.update(extra_env or {})
    proc = subprocess.run(
        ["bash", script_path], env=env, capture_output=True, text=True
    )
    return proc.returncode


@click.command()
@click.option("--config", "config_path", required=True, help="index.yaml path")
@click.option("--output-dir", default="output", help="output root")
@click.option("--replace/--no-replace", default=True,
              help="overwrite existing distribution CSVs (V8)")
@click.option("--catalog-id-filter", default=None)
@click.option("--distribution-id-filter", default=None)
@click.option("--metadata-only", is_flag=True, default=False,
              help="EP2: extract+validate metadata, skip data")
@click.option("--custom-steps", "custom_steps", default=None,
              help="K9: shell script to run over the output dir after ETL")
@click.option("--interactive/--no-interactive", default=False,
              help="reuse already-landed source files instead of "
                   "re-downloading (reference --interactive)")
@click.option("--email-config", "email_config_path", default=None,
              help="K6: config_email.yaml path (mailer + per-catalog "
                   "destinatarios per stage); omit to skip emails")
@click.option("--environment", default="dev",
              help="environment tag for email subjects (X9; 'prod' "
                   "drops the tag)")
@click.option("--send-emails", is_flag=True, default=False,
              help="actually send K6 emails over SMTP (default composes "
                   "them dry-run into the result JSON)")
@click.option("--log-level", default="WARN")
def cli(config_path, output_dir, replace, catalog_id_filter,
        distribution_id_filter, metadata_only, custom_steps, interactive,
        email_config_path, environment, send_emails, log_level):
    """Run the catalog ETL (reference ``etl`` entry point)."""
    spark = get_spark("etl-cli")
    spark.sparkContext.setLogLevel(log_level)
    index = read_config(config_path)
    # Relative metadata paths resolve against the index file, not the cwd.
    base = os.path.dirname(os.path.abspath(config_path))
    for cfg in (index.get("catalogs", index)).values():
        if not isinstance(cfg, dict):
            continue  # null/scalar index entries tolerated, as in run_etl
        p = cfg.get("metadata_path")
        if p and not os.path.isabs(p):
            cfg["metadata_path"] = os.path.join(base, p)
    results = run_etl(
        index.get("catalogs", index),
        output_dir,
        spark=spark,
        replace=replace,
        catalog_id_filter=catalog_id_filter,
        distribution_id_filter=distribution_id_filter,
        metadata_only=metadata_only,
        interactive=interactive,
        download_config=index.get("download_config"),
        email_config=(
            read_config(email_config_path) if email_config_path else None
        ),
        environment=environment,
        email_dry_run=not send_emails,
    )
    if custom_steps:
        results["_custom_steps_exit"] = run_custom_steps(
            output_dir, custom_steps
        )
    click.echo(json.dumps(results, default=str))


if __name__ == "__main__":
    cli()
