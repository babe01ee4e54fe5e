"""Driver-side HTTP REST source for the NS disruptions endpoint.

Spark has no executor-side HTTP source for a ~125-record daily payload, nor
should it: the fetch is a driver-side concern (S1, SURVEY §2.1); the
payload it returns, saved as a JSON file, is what
``SparkETLPipeline.extract`` reads.  Retry
semantics mirror the reference client (api_client.py:52-88): 10 s timeout,
3 attempts, exponential 2/4/8 s backoff, immediate abort on 401/429.

``requests`` is import-gated — tests use archived payloads instead.
"""

from __future__ import annotations

import logging
import time

logger = logging.getLogger(__name__)

DEFAULT_URL = "https://gateway.apiportal.ns.nl/reisinformatie-api/api/v3/disruptions"


def fetch_disruptions(
    api_key: str,
    url: str = DEFAULT_URL,
    max_retries: int = 3,
    timeout_s: int = 10,
) -> list[dict]:
    """GET the disruptions payload with the reference's retry policy."""
    try:
        import requests
    except ImportError as exc:  # pragma: no cover - env without requests
        raise RuntimeError(
            "rest_source requires the 'requests' package; run "
            "SparkETLPipeline over archived payload files instead"
        ) from exc

    headers = {"Ocp-Apim-Subscription-Key": api_key}
    last_error: Exception | None = None
    for attempt in range(1, max_retries + 1):
        try:
            resp = requests.get(url, headers=headers, timeout=timeout_s)
            resp.raise_for_status()
            return resp.json()
        except Exception as exc:
            last_error = exc
            status = getattr(getattr(exc, "response", None), "status_code", None)
            # auth/rate-limit: retrying cannot help (api_client.py:80-84)
            if status in (401, 429) or attempt == max_retries:
                break
            backoff = 2**attempt
            logger.warning("fetch attempt %d failed (%s); retry in %ds", attempt, exc, backoff)
            time.sleep(backoff)
    raise RuntimeError(f"fetch_disruptions failed after {max_retries} attempts") from last_error
