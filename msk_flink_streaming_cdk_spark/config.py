"""Runtime configuration — parity with the reference's property-group
resolution.

The reference app reads ``/etc/flink/application_properties.json``
(``/root/reference/PythonKafkaSink/main.py:99-109``), selects groups
``producer.config.0`` / ``consumer.config.0`` (``main.py:112-115``),
and pulls ``input.topic.name``, ``bootstrap.servers``,
``output.topic.name``, ``output.s3.bucket`` (``main.py:119-136``;
group contents defined by the CDK stack at
``msk_flink_streaming_stack.py:106-121``). Same shape here, engine-
agnostic: a JSON list of ``{"PropertyGroupId", "PropertyMap"}``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

DEFAULT_PROPERTIES_PATH = "/etc/spark/application_properties.json"

PRODUCER_GROUP = "producer.config.0"
CONSUMER_GROUP = "consumer.config.0"


def load_property_groups(path: str) -> dict[str, dict[str, str]]:
    """Parse the property file into {group_id: property_map}."""
    with open(path) as f:
        raw = json.load(f)
    return {
        g["PropertyGroupId"]: dict(g.get("PropertyMap", {})) for g in raw
    }


@dataclass(frozen=True)
class ReferenceJobConfig:
    """The four values the reference job needs (main.py:129-136)."""

    input_topic: str
    bootstrap_servers: str
    output_topic: str
    output_path: str

    @classmethod
    def from_properties(
        cls, groups: dict[str, dict[str, str]]
    ) -> "ReferenceJobConfig":
        producer = groups[PRODUCER_GROUP]
        consumer = groups[CONSUMER_GROUP]
        return cls(
            input_topic=producer["input.topic.name"],
            bootstrap_servers=producer["bootstrap.servers"],
            output_topic=consumer["output.topic.name"],
            # main.py:124; the CDK stack writes this key.
            output_path=consumer["output.s3.bucket"],
        )


def load_job_config(path: str = DEFAULT_PROPERTIES_PATH) -> ReferenceJobConfig:
    return ReferenceJobConfig.from_properties(load_property_groups(path))
