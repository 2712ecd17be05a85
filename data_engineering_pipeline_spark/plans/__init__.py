from data_engineering_pipeline_spark.plans.pipeline import Pipeline

__all__ = ["Pipeline"]
