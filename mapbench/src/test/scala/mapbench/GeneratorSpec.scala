package mapbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  private val spec = ProdPipeline.spec.copy(entities = 300)

  test("the same seed gives the same input digest") {
    assert(Gen.generate(spec, 7).digest == Gen.generate(spec, 7).digest)
    assert(Gen.generate(spec, 7).digest != Gen.generate(spec, 8).digest)
  }

  test("executor-side generation of one entity matches the whole-table generation") {
    val gen = Gen.generate(spec, 3)
    val (e, t1, t2) = Gen.entity(spec, 3, 42)
    assert(gen.entities(42) == e)
    assert(gen.t1.filter(_.entity == 42).toSeq == t1.toSeq)
    assert(gen.t2.filter(_.entity == 42).toSeq == t2.toSeq)
  }

  test("archetype shares follow the spec and values stay non-negative") {
    val gen = Gen.generate(spec.copy(entities = 4000), 11)
    val shares = gen.shares.toMap
    assert(math.abs(shares("simple") - spec.simpleShare) < 0.03)
    assert(math.abs(shares("complex") - spec.complexShare) < 0.03)
    assert(math.abs(shares("new_to_model") - spec.newShare) < 0.02)
    assert(shares("constant") > 0 && shares("short") > 0)
    assert((gen.t1 ++ gen.t2).forall(_.value >= 0))
  }

  test("duplicate rows, gaps, constant and short series all occur") {
    val gen = Gen.generate(spec, 5)
    val perKey = gen.t1.groupBy(o => (o.entity, o.period))
    assert(perKey.exists(_._2.length == 2), "no duplicate observations")
    assert(gen.entities.indices.exists(i => !gen.entities(i).short && !gen.entities(i).constant &&
      gen.t1.count(_.entity == i) < spec.baseLen), "no gaps")
    val short = gen.entities.indexWhere(_.short)
    assert(gen.t1.count(_.entity == short) == 2)
    val constant = gen.entities.indexWhere(_.constant)
    assert(gen.t1.filter(_.entity == constant).map(_.value).distinct.length == 1)
  }

  test("daily specs skew lengths: long entities are longFactor times the base") {
    val gen = Gen.generate(AutoDaily.spec, 2)
    val lens = gen.t1.groupBy(_.entity).map { case (e, os) => e -> os.map(_.period).distinct.length }
    val long = gen.entities.indices.filter(gen.entities(_).long)
    assert(long.nonEmpty)
    assert(long.forall(i => lens(i) > 3 * AutoDaily.spec.baseLen))
  }
}
