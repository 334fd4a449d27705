"""Job / task configuration dataclasses.

JSON-serializable analogues of the reference's config surface
(``src/chug/common/config.py:161-301`` DataCfg/DataArg,
``src/chug/common/task_config.py:5-23`` DataTaskCfg, and the per-task cfgs in
``src/chug/task_pipeline/*``).  Field names kept where they carry over.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field
from typing import Optional

from .schema import (
    DEFAULT_ANSWER_KEY,
    DEFAULT_ANSWER_PREFIX,
    DEFAULT_ANSWER_SUFFIX,
    DEFAULT_DOC_KEY,
    DEFAULT_IMG_KEY,
    DEFAULT_QUESTION_ID_KEY,
    DEFAULT_QUESTION_KEY,
    DEFAULT_QUESTION_PREFIX,
    DEFAULT_QUESTION_SUFFIX,
    DEFAULT_TXT_KEY,
)

# Error policies — name-compatible with the reference handler registry
# (src/chug/wds/helpers.py:57-65).  *continue* policies skip the failing
# document and emit a lineage/error row; *stop/reraise* policies fail the job.
CONTINUE_POLICIES = {"log_and_continue", "ignore_and_continue", "warn_and_continue"}
STOP_POLICIES = {"ignore_and_stop", "warn_and_stop", "dump_and_reraise", "reraise_exception"}
ERROR_POLICIES = CONTINUE_POLICIES | STOP_POLICIES

PAGE_SAMPLING_MODES = ("random", "first", "last", "all_valid", "all")

# get_next_valid_page_index retry bound (src/chug/doc/doc_processor.py:22).
VALID_PAGE_RETRIES = 10


@dataclass
class FeatureInfo:
    """(output_name, ';'-delimited fallback input keys) —
    reference src/chug/common/types.py:94-104."""

    output_name: Optional[str] = None
    input_key: Optional[str] = None

    @property
    def input_keys(self) -> list[str]:
        return self.input_key.split(";") if self.input_key else []


@dataclass
class ImageFeatureInfo(FeatureInfo):
    """FeatureInfo + image_mode — reference src/chug/common/types.py:107-117."""

    image_mode: str = "RGB"


@dataclass
class ExtractJobCfg:
    """Top-level job config for the batch extraction pipeline (the Spark
    analogue of DataCfg + DataTaskCfg for the doc-read task)."""

    # semantics
    page_sampling: str = "all_valid"            # 'random'|'first'|'last'|'all_valid'|'all'
    line_break: str = "\n"                      # doc_read_processor.py:19
    image_mode: str = "L"                       # DEFAULT_DOC_FEAT, constants.py:15
    render_dpi: int = 150                       # doc_processor.py:71
    error_handler: str = "log_and_continue"     # task_config.py:23 default
    seed: int = 0
    doc_key: str = DEFAULT_DOC_KEY

    # scale knobs (north rule: per-partition size capping; the decode
    # repartition is salted over spark.sql.shuffle.partitions)
    max_pages_per_task: int = 8                 # cap: pages decoded per sub-row
    # corpus branch shape: 'auto' probes the data with two LIMIT-1 scans and
    # skips the absent subtree entirely (a homogeneous corpus pays one
    # single-column probe scan and saves the whole other branch — measured
    # 3.0 s of fixed stage/Python overhead at sf0.1); at warehouse scale the
    # table's shape is known, so set 'passthrough'/'payload'/'mixed'
    # explicitly and no probe job runs at all.
    branch: str = "auto"                        # 'auto'|'mixed'|'passthrough'|'payload'

    # checkpoint / resume
    run_id: str = "run0"

    def validate(self) -> "ExtractJobCfg":
        assert self.page_sampling in PAGE_SAMPLING_MODES, self.page_sampling
        assert self.error_handler in ERROR_POLICIES, self.error_handler
        assert self.max_pages_per_task >= 1
        assert self.branch in ("auto", "mixed", "passthrough", "payload"), self.branch
        return self

    def to_dict(self) -> dict:
        return asdict(self)


@dataclass
class VqaTaskCfg:
    """Doc-VQA task config (reference src/chug/doc/doc_vqa_processor.py:12-66)."""

    question_key: str = DEFAULT_QUESTION_KEY
    question_id_key: str = DEFAULT_QUESTION_ID_KEY
    answer_key: str = DEFAULT_ANSWER_KEY
    question_prefix: str = DEFAULT_QUESTION_PREFIX
    question_suffix: str = DEFAULT_QUESTION_SUFFIX
    answer_prefix: str = DEFAULT_ANSWER_PREFIX
    answer_suffix: str = DEFAULT_ANSWER_SUFFIX
    include_target: bool = True
    seed: int = 0


@dataclass
class ImageTextTaskCfg:
    """Image+text task config (reference
    src/chug/task_pipeline/pipeline_image_text.py:16-19)."""

    image_input_feat: ImageFeatureInfo = field(
        default_factory=lambda: ImageFeatureInfo("image_input", DEFAULT_IMG_KEY, "RGB")
    )
    text_input_feat: FeatureInfo = field(
        default_factory=lambda: FeatureInfo("text", DEFAULT_TXT_KEY)
    )
    filter_valid: bool = True
    output_tuple: bool = False
