package graftbench

import scala.collection.mutable

import graft.etl.ApiSource

/** Seeded generator of the reference API's eight payloads (the shapes and
  * edge rows of FIXTURES.md §A) at the reference's scale: 10^3 schedule
  * entities ([[ScheduleGen.NGroups]] groups plus
  * [[ScheduleGen.NTeaching]] teaching employees).
  *
  * [[initial]] is the first full dump; each [[nightly]] call mutates a
  * seeded few percent of it the way a real night does — tracked SCD2
  * changes, counts-only changes, dropped and new groups, moved lessons and
  * a few entities whose payload is missing. Every edge row of §A recurs at
  * a fixed rate in every dump. Alongside the payloads the generator keeps
  * a model of the pipeline's semantics and returns what the warehouse must
  * hold after the run ([[Expected]]), so a silently quarantined payload or
  * a lost row fails the benchmark.
  */
final class ScheduleGen(seed: Long) {
  import ScheduleGen._

  private val rnd = new scala.util.Random(seed)

  private val days = Seq("Понедельник", "Вторник", "Среда", "Четверг",
    "Пятница", "Суббота")
  private val subjects = Seq("Математический анализ", "Физика",
    "Программирование", "Базы данных", "Философия", "История",
    "Английский язык", "Экономика", "Сети", "Алгоритмы")

  // ---- dimensions (stable apart from the groups) ----
  private val faculties = (1 to 8).map(i => (i.toLong, s"Факультет $i", s"Ф$i"))
  private val deptNames = (1 to 40).map(i => s"Кафедра номер $i")
  private val specs = (1 to 60).map(i => 100L + i)
  // building per room: every 10th room carries its building inside its own
  // name, every 10th (+3) has only a building id, every 25th has neither
  private val rooms = (0 until 240).map { i =>
    val num = s"${100 + i}"
    val b = 1 + i % 8
    if (i % 10 == 0) (900L + i, s"$num-$b", Some(s"$b"), None)
    else if (i % 10 == 3) (900L + i, num, None, Some(b.toLong))
    else if (i % 25 == 7) (900L + i, s"Зал $num", None, None)
    else (900L + i, num, Some(s"$b к."), None)
  }
  /** Display names the pipeline derives (DimSync.auditories). */
  private val roomDisplay: IndexedSeq[String] = rooms.map {
    case (_, n, Some(b), _) => if (n.contains(b)) n else s"$n-$b"
    case (_, n, None, Some(bid)) => s"$n-$bid к."
    case (_, n, None, None) => n
  }
  private val roomSet = roomDisplay.toSet

  private val groups = mutable.LinkedHashMap.empty[Long, Group]
  private var nextGroup = 0
  private def newGroup(): Group = {
    val i = nextGroup
    nextGroup += 1
    Group(10000L + i, f"${2 + i % 5}%d5${i % 100}%02d${i / 100}%d",
      1 + i % 5, specs(i % specs.size),
      if (i % 7 == 0) None else Some(1 + i % 2), 15 + rnd.nextInt(15))
  }
  (0 until NGroups).foreach { _ => val g = newGroup(); groups(g.id) = g }

  private val employees = (0 until NEmployees).map { i =>
    (5000L + i, s"Имя$i", s"Фамилия$i",
      if (i % 40 == 5) None else Some(s"emp-$i"))
  }
  private val teaching = employees.flatMap(_._4).take(NTeaching)

  private val scheds = mutable.LinkedHashMap.empty[(String, String), Sched]
  groups.values.foreach(g => scheds((g.name, "group")) = sched(g.name, true))
  teaching.foreach(u => scheds((u, "employee")) = sched(u, false))

  // model of the warehouse: per entity, the events the table holds
  private val held = mutable.Map.empty[(String, String), Sched]
  private val liveIds = mutable.Set.empty[Long]
  private var run = 0
  private var missing = Set.empty[(String, String)]

  private def lesson(owner: String, k: Int, group: Boolean): Lesson = {
    val edge = (owner.hashCode & 0x7fffffff) % 20 == 0
    val day =
      if (edge && k == 0) "Каникулы"                       // unknown day key
      else days(rnd.nextInt(days.size))
    val h = 8 + rnd.nextInt(10)
    val start =
      if (edge && k == 1) "xx:yy"                          // malformed time
      else f"$h%02d:${Seq(0, 25, 50)(rnd.nextInt(3))}%02d"
    val weeks = rnd.nextInt(6) match {
      case 0 => Seq.empty
      case 1 => Seq(0)
      case 2 => Seq(1, 3)
      case 3 => Seq(2, 4)
      case 4 => Seq(1, 2, 3)
      case _ => Seq(rnd.nextInt(4) + 1)
    }
    val refs = (0 until 1 + rnd.nextInt(2)).map { j =>
      val r = rnd.nextInt(rooms.size)
      (rnd.nextInt(12), j) match {
        case (0, _) => IntRef(rooms(r)._1)                 // bare int
        case (1, _) => DictName(rooms(r)._1, roomDisplay(r))
        case (2, _) => DictId(rooms(r)._1)                 // id only
        case (3, _) => DictName(rooms(r)._1, "")           // empty name
        case (4, _) => Str(s"Аудитория ${rnd.nextInt(50)}") // unknown room
        case _ => Str(roomDisplay(r))
      }
    }.distinctBy(_.out)
    val subj =
      if (k == 2 && edge) None
      else if (k == 3 && edge) Some("")
      else Some(subjects(rnd.nextInt(subjects.size)))
    val sgs =
      if (group) Seq((owner, if (k == 0) 20 + rnd.nextInt(10) else 0))
      else Nil
    Lesson(day, start, s"${h + 1}:20", weeks, refs, subj, sgs)
  }

  private def sched(owner: String, group: Boolean): Sched = {
    val edge = (owner.hashCode & 0x7fffffff) % 20 == 0
    if (!group && edge) return Sched(Nil, Nil)             // both empty
    val n = if (group) 10 + rnd.nextInt(9) else 6 + rnd.nextInt(8)
    val ls = (0 until n).map(lesson(owner, _, group))
    val exams = (0 until rnd.nextInt(3)).map { k =>
      val date =
        if (edge && k == 0) "99.99.9999"                   // unparseable
        else f"${1 + rnd.nextInt(28)}%02d.06.2026"
      val start = if (edge && k == 1) "bad" else "10:00"   // → 00:00
      Exam(date, start, Seq(Str(roomDisplay(rnd.nextInt(rooms.size)))))
    }
    Sched(ls, exams)
  }

  /** The first full dump. */
  def initial(): (ApiSource, Expected) = emit()

  /** One night's changes applied to the previous dump. */
  def nightly(): (ApiSource, Expected) = {
    val ids = groups.keys.toIndexedSeq
    def pick(frac: Double): Seq[Long] =
      rnd.shuffle(ids).take(math.max(1, (ids.size * frac).toInt))
    pick(0.02).foreach { id =>                             // tracked change
      val g = groups(id)
      groups(id) = g.copy(course = 1 + g.course % 5)
    }
    pick(0.03).foreach { id =>                             // counts only
      val g = groups(id)
      groups(id) = g.copy(students = g.students + 1 + rnd.nextInt(3))
    }
    pick(0.01).foreach { id =>                             // dropped group
      scheds.remove((groups(id).name, "group"))
      groups.remove(id)
    }
    (0 until math.max(1, ids.size / 100)).foreach { _ =>   // new group
      val g = newGroup()
      groups(g.id) = g
      scheds((g.name, "group")) = sched(g.name, true)
    }
    val keys = scheds.keys.toIndexedSeq
    rnd.shuffle(keys).take(keys.size * 3 / 100).foreach { k => // moved lesson
      val s = scheds(k)
      if (s.lessons.nonEmpty) {
        val i = rnd.nextInt(s.lessons.size)
        scheds(k) = s.copy(lessons =
          s.lessons.updated(i, lesson(k._1, 4 + i, k._2 == "group")))
      }
    }
    emit()
  }

  private def emit(): (ApiSource, Expected) = {
    val keys = scheds.keys.toIndexedSeq
    // a few entities whose payload is missing this night (the API failed
    // for them): the pipeline quarantines them and keeps their old rows
    missing =
      if (run == 0) Set.empty
      else rnd.shuffle(keys).take(5).toSet
    run += 1
    val payloads = Map(
      "/faculties" -> facultiesJson,
      "/departments" -> departmentsJson,
      "/specialities" -> specialitiesJson,
      "/student-groups" -> groupsJson,
      "/employees/all" -> employeesJson,
      "/auditories" -> auditoriesJson,
      "/schedule/current-week" -> s"${1 + run % 4}",
      "/schedule" -> scheduleJson(keys))

    // advance the model exactly as the pipeline does
    keys.foreach { k =>
      if (!missing.contains(k)) {
        val s = scheds(k)
        // an entity whose new payload yields no events keeps its old slice
        // (the events upsert replaces only the slices it receives)
        if (validEvents(s) > 0) held(k) = s
      }
    }
    liveIds.clear()
    groups.values.foreach(g => liveIds += g.id)
    val events = held.values.map(validEvents).sum
    val occ = held.iterator.collect { case ((_, "group"), s) =>
      s.lessons.filter(validLesson).map(l =>
        effWeeks(l.weeks).size.toLong * l.rooms.count(r => roomSet(r.out))).sum
    }.sum
    (MapSource(payloads),
      Expected(events, liveIds.size.toLong, occ, missing.size))
  }

  private def validLesson(l: Lesson): Boolean =
    days.contains(l.day) && l.start.matches("^\\d{1,2}:\\d{2}$")
  private def validExam(e: Exam): Boolean =
    e.date.matches("^(0[1-9]|[12]\\d|3[01])\\.(0[1-9]|1[0-2])\\.\\d{4}$")
  private def validEvents(s: Sched): Long =
    s.lessons.count(validLesson).toLong + s.exams.count(validExam)

  // ---- JSON rendering ----
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def facultiesJson: String = faculties.map { case (id, n, a) =>
    s"""{"id":$id,"name":${q(n)},"abbrev":${q(a)}}""" }.mkString("[", ",", "]")

  private def departmentsJson: String = deptNames.zipWithIndex.map {
    case (n, i) =>
      val id = 10L + i
      if (i % 13 == 1) s"""{"id":$id,"nameAbbrev":${q(s"К$i")}}"""
      else if (i % 13 == 2)
        s"""{"id":$id,"name":${q(n + " с очень длинным названием, длиннее пятидесяти символов")}}"""
      else s"""{"id":$id,"name":${q(n)},"abbrev":${q(s"К$i")}}"""
  }.mkString("[", ",", "]")

  private def specialitiesJson: String = specs.zipWithIndex.map {
    case (id, i) =>
      val fac = if (i % 29 == 3) 99L else faculties(i % faculties.size)._1
      val form = i % 4 match {
        case 0 => ""                                         // null form
        case 1 => s""","educationForm":{"id":${1 + i % 3}}""" // id only
        case 2 => ""","educationForm":{}"""                 // both null
        case _ => s""","educationForm":{"id":1,"name":"Дневная"}"""
      }
      s"""{"id":$id,"name":${q(s"Специальность $i")},"abbrev":${q(s"С$i")},"code":${q(s"1-$i")},"facultyId":$fac$form}"""
  }.mkString("[", ",", "]")

  private def groupsJson: String = {
    val live = groups.values.map { g =>
      val deg = g.degree.map(d => s""","educationDegree":$d""").getOrElse("")
      s"""{"id":${g.id},"name":${q(g.name)},"course":${g.course}$deg,"numberOfStudents":${g.students},"specialityDepartmentEducationFormId":${g.specId}}"""
    }
    // groups of an unknown speciality: skipped by the pipeline
    val orphans = (0 until 4).map(i =>
      s"""{"id":${99000 + i},"name":"Сирота$i","course":1,"specialityDepartmentEducationFormId":9999}""")
    (live ++ orphans).mkString("[", ",", "]")
  }

  private def employeesJson: String = employees.zipWithIndex.map {
    case ((id, fn, ln, url), i) =>
      val d = deptNames(i % deptNames.size)
      val depts = i % 5 match {
        case 0 => Seq(q(d), s"""{"name":${q(d)}}""", q("  " + d.toUpperCase + " "))
        case 1 => Seq(s"""{"abbrev":${q(s"К${i % deptNames.size}")}}""")
        case 2 => Seq(q("Неизвестная кафедра"))
        case _ => Seq(q(d))
      }
      val u = url.map(x => s""","urlId":${q(x)}""").getOrElse("")
      s"""{"id":$id,"firstName":${q(fn)},"lastName":${q(ln)},"rank":${q(if (run % 2 == 0) "доцент" else "профессор")}$u,"academicDepartment":${depts.mkString("[", ",", "]")}}"""
  }.mkString("[", ",", "]")

  private def auditoriesJson: String = rooms.zipWithIndex.map {
    case ((id, n, b, bid), i) =>
      val bj = b.map(x => s""","buildingNumber":{"name":${q(x)}}""").getOrElse("")
      val bidj = bid.map(x => s""","buildingNumberId":$x""").getOrElse("")
      val dept =
        if (i % 31 == 4)
          s""","department":{"idDepartment":${700 + i},"name":${q(s"Новая кафедра $i")},"abbrev":${q(s"НК$i")}}"""
        else if (i % 31 == 9) ""","departmentId":9999"""
        else s""","departmentId":${10 + i % deptNames.size}"""
      s"""{"id":$id,"name":${q(n)}$bj$bidj,"capacity":${20 + i % 60},"auditoryType":{"name":"Лекционная"}$dept}"""
  }.mkString("[", ",", "]")

  private def scheduleJson(keys: Seq[(String, String)]): String = {
    val sb = new StringBuilder("[")
    keys.zipWithIndex.foreach { case (k @ (name, typ), i) =>
      if (i > 0) sb += ','
      sb ++= s"""{"entityName":${q(name)},"entityType":${q(typ)}"""
      if (!missing.contains(k)) {
        val s = scheds(k)
        sb ++= ""","data":{"schedules":{"""
        s.lessons.groupBy(_.day).toSeq.sortBy(_._1).zipWithIndex.foreach {
          case ((day, ls), j) =>
            if (j > 0) sb += ','
            sb ++= q(day) += ':'
            sb ++= ls.map(renderLesson).mkString("[", ",", "]")
        }
        sb ++= """},"exams":"""
        sb ++= s.exams.map(e =>
          s"""{"subject":"Экзамен по курсу","startLessonTime":${q(e.start)},"endLessonTime":"12:00","dateLesson":${q(e.date)},"auditories":${e.rooms.map(_.json).mkString("[", ",", "]")}}""")
          .mkString("[", ",", "]")
        sb ++= "}"
      }
      sb += '}'
    }
    sb += ']'
    sb.toString
  }

  private def renderLesson(l: Lesson): String = {
    val subj = l.subject.map(s => s""""subject":${q(s)},""").getOrElse("")
    val sgs = l.groups.map { case (g, c) =>
      s"""{"name":${q(g)},"numberOfStudents":$c}""" }.mkString("[", ",", "]")
    s"""{$subj"startLessonTime":${q(l.start)},"endLessonTime":${q(l.end)},"weekNumber":${l.weeks.mkString("[", ",", "]")},"numSubgroup":0,"auditories":${l.rooms.map(_.json).mkString("[", ",", "]")},"employees":[{"firstName":"Иван","lastName":"Иванов"}],"studentGroups":$sgs}"""
  }
}

object ScheduleGen {
  /** Groups in the first dump (nightly drops and adds keep it near this). */
  val NGroups = 800
  /** Employees in `/employees/all`, of whom `NTeaching` have a schedule. */
  val NEmployees = 300
  val NTeaching = 200

  final case class Group(id: Long, name: String, course: Int, specId: Long,
                         degree: Option[Int], students: Int)
  // one schedule entity's lessons and exams, already in model form
  final case class Sched(lessons: Seq[Lesson], exams: Seq[Exam])

  /** One auditory reference inside a lesson, in each shape the API uses;
    * `out` is the room string the pipeline extracts from it. */
  sealed trait Ref { def json: String; def out: String }
  final case class Str(s: String) extends Ref {
    def json: String = "\"" + s + "\""; def out: String = s }
  final case class IntRef(id: Long) extends Ref {
    def json: String = id.toString; def out: String = id.toString }
  final case class DictName(id: Long, name: String) extends Ref {
    def json: String = s"""{"id":$id,"name":"$name"}"""
    def out: String = if (name.nonEmpty) name else id.toString }
  final case class DictId(id: Long) extends Ref {
    def json: String = s"""{"id":$id}"""; def out: String = id.toString }

  final case class Lesson(day: String, start: String, end: String,
                          weeks: Seq[Int], rooms: Seq[Ref],
                          subject: Option[String],
                          groups: Seq[(String, Int)])
  final case class Exam(date: String, start: String, rooms: Seq[Ref])

  def effWeeks(w: Seq[Int]): Seq[Int] =
    if (w.isEmpty || w == Seq(0)) Seq(1, 2, 3, 4) else w

  /** What the warehouse must hold after a run: `events` rows in
    * schedule_events, one open student_groups row for each of
    * `openGroups` live ids, occupancy `n_events` summing to `occupancy`,
    * and `rejects` quarantined entities. */
  final case class Expected(events: Long, openGroups: Long, occupancy: Long,
                            rejects: Int)

  /** The benchmark's own [[ApiSource]]: payloads served from memory. */
  final case class MapSource(payloads: Map[String, String]) extends ApiSource {
    override def fetch(endpoint: String): Option[String] = payloads.get(endpoint)
  }
}
