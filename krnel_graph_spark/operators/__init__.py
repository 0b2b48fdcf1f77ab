from .classifier_ops import (
    ClassifierEvaluationOp,
    ClassifierPredictOp,
    TrainClassifierOp,
)
from .dataset_ops import (
    AssignRowIDOp,
    AssignTrainTestSplitOp,
    BooleanLogicOp,
    CategoryToBooleanOp,
    JinjaTemplatizeOp,
    JSONGetFieldOp,
    LoadDatasetOp,
    LoadFileDatasetOp,
    LoadInlineJsonDatasetOp,
    LoadParquetDatasetOp,
    MaskRowsOp,
    PairwiseArithmeticOp,
    ParseJSONColumnOp,
    SelectBooleanColumnOp,
    SelectCategoricalColumnOp,
    SelectColumnOp,
    SelectConversationColumnOp,
    SelectJSONColumnOp,
    SelectScoreColumnOp,
    SelectTextColumnOp,
    SelectTrainTestSplitColumnOp,
    SelectVectorColumnOp,
    TakeRowsOp,
    VectorToScalarOp,
)
from .grouped_ops import GroupedOp
from .scale_ops import (
    AnnTopKOp,
    GroupCapOp,
    PiiScrubOp,
    MixToWeightsOp,
    CdcChunkDedupOp,
    DedupWeightsOp,
    SpanCorruptionOp,
    WinnowPairsOp,
    SequencePackOp,
    StratifiedSampleOp,
    ChunkDocumentsOp,
    CompressionSignalsOp,
    DecontaminateAgainstOp,
    DropExactDupsOp,
    DropNearDupsOp,
    DsirWeightsOp,
    HashSampleOp,
    NgramCoverageOp,
    ParagraphDedupOp,
    TextStatsOp,
    TokenEntropyOp,
)
from .llm_ops import LLMGenerateTextOp, LLMLayerActivationsOp, LLMLogitScoresOp
from .viz_ops import UMAPVizOp

__all__ = [name for name in dir() if not name.startswith("_")]
